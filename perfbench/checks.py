"""Output checks of the graft benchmark; none of this is timed.

Batch queries are compared with their DuckDB oracle (`SparkEntry.oracleSql`)
through the strict canonicalisation of the repository's scripts/check.py,
which is imported, not copied. Streaming pipelines are compared with the
rows computed here in DuckDB from the on-time events of the replay.

Each check returns {name: "ok" | reason} and each name's count of expected
rows; an empty expectation fails, as it would prove nothing.
"""
import glob
import importlib.util
import json
import os

import duckdb

def _load_check_py(root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(root, "scripts", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_batch(res, data, out_dir, root):
    check = _load_check_py(root)
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    verdicts, counts = {}, {}
    for name in res["queries"]:
        if name in res["failures"]:
            verdicts[name] = "threw: " + res["failures"][name]
            continue
        if name not in oracle:
            verdicts[name] = "no oracle"
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            verdicts[name] = "no output"
            continue
        o = con.execute(oracle[name])
        ocols = [d[0] for d in o.description]
        orows = o.fetchall()
        s = con.execute(f"SELECT * FROM read_parquet({files!r})")
        scols = [d[0] for d in s.description]
        srows = s.fetchall()
        oc, orws = check.canon(orows, ocols, strict=True)
        sc, srws = check.canon(srows, scols, strict=True)
        tdiffs = check.type_mismatch(con, oracle[name], files)
        counts[name] = len(orws)
        if not orws:
            verdicts[name] = "no rows expected: the check would prove nothing"
        elif oc != sc:
            verdicts[name] = f"columns differ: oracle={oc} spark={sc}"
        elif tdiffs:
            verdicts[name] = f"types differ: {tdiffs}"
        elif orws != srws:
            verdicts[name] = f"rows differ: oracle={len(orws)} spark={len(srws)}"
        else:
            verdicts[name] = "ok"
    return verdicts, counts


# The rows each streaming pipeline must emit, from the on-time events
# (`ontime`, every delivered copy) in DuckDB.
EXPECTED = {
    "dedup": "SELECT DISTINCT user_id, ts, event_type, value FROM ontime",
    "interval_join": """
        SELECT v.user_id, v.ts AS view_ts, p.ts AS purchase_ts, p.value AS purchase_value
        FROM ontime v JOIN ontime p ON v.user_id = p.user_id
         AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 6 HOUR
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'""",
}


def check_stream(res, data, run_dir):
    """Each pipeline's rows against the rows EXPECTED from the on-time
    events, as multisets."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW ontime AS SELECT user_id, ts, event_type, value "
                f"FROM '{data}/stream.parquet' WHERE NOT late")
    verdicts, counts = {}, {}
    for name in res["pipelines"]:
        if name in res["failures"]:
            verdicts[name] = "threw: " + res["failures"][name]
            continue
        want_rel = con.execute(EXPECTED[name])
        cols = [d[0] for d in want_rel.description]
        want = sorted(want_rel.fetchall())
        counts[name] = len(want)
        files = glob.glob(os.path.join(run_dir, "stream", name, "*.parquet"))
        if not want:
            verdicts[name] = "no rows expected: the check would prove nothing"
            continue
        if not files:
            verdicts[name] = "no output"
            continue
        got = sorted(con.execute(
            f"SELECT {', '.join(cols)} FROM read_parquet({files!r})").fetchall())
        if got == want:
            verdicts[name] = "ok"
        else:
            extra = [r for r in got if r not in want][:2]
            missing = [r for r in want if r not in got][:2]
            verdicts[name] = (f"rows differ: stream={len(got)} expected={len(want)} "
                              f"unexpected={extra} missing={missing}")
    return verdicts, counts
