"""Output checks of one benchmark run, outside every timed window.

- ops with a DuckDB oracle: graft.Verify's output (written by the harness
  after the timed passes) replayed with `tools/validate.py --pandas`;
- quadratic-oracle ops (no affordable oracle): an order-independent hash
  of one more evaluation, whose row count must equal every pass's;
- inc_delete_insert / inc_merge: the final table against a DuckDB
  last-writer-wins query over the generated batches;
- every op: the same row count in every timed pass (for the increments,
  the same order-independent hash of the final table too).
"""
import glob
import os
import re
import subprocess

import duckdb

INC_COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate"]
MERGE_UPDATE = {"o_orderstatus", "o_totalprice"}


def run(res, data, out):
    """Return {op: reason} for every op whose output is wrong."""
    fail = {}
    for o in res["ops"]:
        if o["failed_passes"]:
            fail[o["op"]] = "threw: " + "; ".join(o["errors"])[:300]
        elif len(o["rows"]) != 1:
            fail[o["op"]] = f"row count differs across passes: {o['rows']}"
        elif len(o["digests"]) != 1:
            fail[o["op"]] = f"result differs across passes: {o['digests']}"
    rows = {o["op"]: o["rows"] for o in res["ops"]}
    for h in res["hashes"]:
        if h["h"].startswith("error"):
            fail.setdefault(h["op"], h["h"])
        elif [int(h["h"].split(":")[0])] != rows[h["op"]]:
            fail.setdefault(h["op"], f"hash-check rows {h['h']} vs "
                                     f"{rows[h['op']]}")
    for e in res["exports"]:
        if e["op"] not in fail:
            why = increments(data, e["path"], merge=e["op"] == "inc_merge")
            if why:
                fail[e["op"]] = why
    keys = res["verify_keys"]
    if keys:
        verdict = replay(data, os.path.join(out, "verify"), keys)
        for k in keys:
            if verdict.get(k) != "PASS":
                fail.setdefault(k, verdict.get(k, "no verdict"))
    return fail


def replay(data, verify_dir, keys):
    """tools/validate.py --pandas over the keys; {key: PASS | reason}."""
    p = subprocess.run(
        ["python3", "tools/validate.py", "--pandas",
         os.path.join(data, "tables"), verify_dir] + keys,
        capture_output=True, text=True, timeout=120)
    verdict = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? ", line + " ")
        if m:
            verdict[m.group(2)] = "PASS" if m.group(1) == "PASS" else line
    return verdict


def increments(data, got_dir, merge):
    """None when the exported table equals the last-writer-wins result of
    applying the generated batches in order to the base orders table."""
    cols = ", ".join(INC_COLUMNS)
    batches = sorted(glob.glob(os.path.join(data, "increments", "*.parquet")))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    norm = ", ".join(
        f"CAST({c} AS TIMESTAMP) AS {c}" if c == "o_orderdate" else c
        for c in INC_COLUMNS)
    con.execute(f"CREATE VIEW base AS SELECT {norm} FROM read_parquet("
                f"'{os.path.join(data, 'tables', 'orders.parquet')}')")
    con.execute("CREATE VIEW inc AS " + " UNION ALL ".join(
        f"SELECT {norm}, {i} AS b FROM read_parquet('{p}')"
        for i, p in enumerate(batches)))
    con.execute(f"CREATE VIEW latest AS SELECT {cols} FROM (SELECT *, "
                "row_number() OVER (PARTITION BY o_orderkey ORDER BY b DESC)"
                " AS rn FROM inc) WHERE rn = 1")
    if merge:
        pick = ", ".join(
            f"CASE WHEN l.o_orderkey IS NOT NULL THEN l.{c} ELSE t.{c} END"
            if c in MERGE_UPDATE else f"t.{c}" for c in INC_COLUMNS)
    else:
        pick = ", ".join(
            f"CASE WHEN l.o_orderkey IS NOT NULL THEN l.{c} ELSE t.{c} END"
            for c in INC_COLUMNS)
    con.execute(f"CREATE VIEW expected AS SELECT {pick} FROM base t LEFT "
                "JOIN latest l USING (o_orderkey) UNION ALL SELECT * FROM "
                "latest WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)")
    con.execute(f"CREATE VIEW got AS SELECT {norm} FROM read_parquet("
                f"'{got_dir}/*.parquet')")
    n_exp, n_got = (con.execute(f"SELECT count(*) FROM {v}").fetchone()[0]
                    for v in ("expected", "got"))
    extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
                        "SELECT * FROM expected)").fetchone()[0]
    missing = con.execute("SELECT count(*) FROM (SELECT * FROM expected "
                          "EXCEPT ALL SELECT * FROM got)").fetchone()[0]
    if n_exp != n_got or extra or missing:
        return (f"final table differs from last-writer-wins: rows {n_got} vs "
                f"{n_exp}, {extra} unexpected, {missing} missing")
    return None
