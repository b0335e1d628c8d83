"""Answer checks for perfbench, run untimed after the measured window.

- history_api: a sample of `/history/values` answers (every 10th request
  and every heavy one) is recomputed in DuckDB from the raw samples the
  generator made, which the program never sees.
- training_data: each op kind's warm-up result is compared with its
  `SparkEntry.oracleSql` in DuckDB on the same inputs, by
  tools/oracle_check.py and its compare rules.
"""
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ORACLE_CHECK = os.path.join(HERE, "..", "tools", "oracle_check.py")


def digest(d):
    """sha256 over the names and bytes of every file in `d`."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_checks(workload, inputs, expected, out, work):
    """Returns [(check name, passed, message)]."""
    if workload == "history_api":
        return history_checks(inputs, expected, out)
    return oracle_checks(inputs, os.path.join(work, "oracle"))


def oracle_checks(inputs, oracle_dir):
    try:
        p = subprocess.run([sys.executable, ORACLE_CHECK, inputs, oracle_dir],
                           capture_output=True, text=True, timeout=25)
    except subprocess.TimeoutExpired:
        return [("oracle_check", False, "timed out")]
    res = []
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            res.append(("oracle " + rest.split(":")[0].split(" ")[0], word == "PASS", rest))
    if not res:
        res.append(("oracle_check", False, (p.stdout + p.stderr)[-500:]))
    return res


def close(a, b, tol=1e-6):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=tol)


# History's aggregate per method; {f} is the spec's FILTER clause.
AGG_SQL = {
    "average": "CAST(SUM(CAST(value AS DECIMAL(18,6))) {f} AS DOUBLE) / COUNT(value) {f}",
    "min": "MIN(value) {f}",
    "max": "MAX(value) {f}",
    "first": "arg_min(value, ts_ms) {f}",
    "last": "arg_max(value, ts_ms) {f}",
    "mid": "ROUND(median(value) {f}, 6)",
    "angular": "ROUND(atan2("
               "CAST(SUM(CAST(ROUND(sin(value), 6) AS DECIMAL(18,6))) {f} AS DOUBLE) / COUNT(value) {f}, "
               "CAST(SUM(CAST(ROUND(cos(value), 6) AS DECIMAL(18,6))) {f} AS DOUBLE) / COUNT(value) {f}), 6)",
}


def history_checks(inputs, expected, out):
    with open(os.path.join(inputs, "fleet_meta.json")) as f:
        meta = json.load(f)
    angular = set(meta["angular"])
    con = duckdb.connect()
    con.execute("CREATE VIEW raw AS SELECT * FROM read_parquet('%s')"
                % os.path.join(expected, "fleet_raw.parquet"))
    res = []
    with open(os.path.join(out, "history_answers.jsonl")) as f:
        answers = [json.loads(l) for l in f if l.strip()]
    for a in answers:
        name = "history request %d" % a["id"]
        try:
            msg = check_answer(con, meta, angular, a)
        except Exception as e:  # a malformed answer is a failed check
            msg = "%s: %s" % (type(e).__name__, e)
        res.append((name, msg is None, msg or ""))
    return res


def check_answer(con, meta, angular, a):
    ctx = meta["sanitized"][a["context"]]
    res, lo, hi = a["resolution"], a["from_ms"], a["to_ms"]
    specs = [s.split(":") for s in a["specs"]]
    paths = [meta["paths"][s[0]] for s in specs]
    where = ("context = ? AND ts_ms >= %d AND ts_ms < %d AND path IN (%s)"
             % (lo, hi, ",".join("?" * len(paths))))
    bucket = "CAST(FLOOR(ts_ms / %d) * %d AS BIGINT)" % (res, res)
    if a["tier"] is not None:
        rows = con.execute(
            "SELECT path, %s AS b, %s, MIN(value), MAX(value), COUNT(*) FROM raw WHERE %s "
            "GROUP BY 1, 2" % (bucket, AGG_SQL["average"].format(f=""), where), [ctx] + paths).fetchall()
        want = {(p, b): v for p, b, *v in rows}
        got = {(meta["paths"][r[0]], r[1]): r[2:] for r in a["rows"]}
        if want.keys() != got.keys():
            return "tier answer has %d buckets, raw recompute %d" % (len(got), len(want))
        for k, v in want.items():
            if not all(close(x, y) for x, y in zip(v, got[k])):
                return "bucket %s: got %s, want %s" % (k, got[k], v)
        return None
    cols = []
    for s, p in zip(specs, paths):
        m = "angular" if s[1] == "average" and p in angular else s[1]
        cols.append(AGG_SQL[m].format(f="FILTER (WHERE path = '%s')" % p))
    rows = con.execute("SELECT %s AS b, %s FROM raw WHERE %s GROUP BY 1 ORDER BY 1"
                       % (bucket, ", ".join(cols), where), [ctx] + paths).fetchall()
    want = [list(r) for r in rows]
    for j, s in enumerate(specs, start=1):
        if len(s) > 2:
            smooth([r[j] for r in want], s[2], float(s[3]), want, j)
    got = a["rows"]
    if [r[0] for r in got] != [r[0] for r in want]:
        return "answer has %d buckets, raw recompute %d" % (len(got), len(want))
    for g, w in zip(got, want):
        if not all(close(x, y) for x, y in zip(g, w)):
            return "bucket %d: got %s, want %s" % (g[0], g[1:], w[1:])
    return None


def smooth(xs, kind, param, rows, j):
    """History's trailing SMA (window of n buckets, nulls skipped, exact
    decimal sum) or EMA (alpha, nulls pass through), written into column j."""
    if kind == "sma":
        n = int(param)
        for i in range(len(xs)):
            win = [x for x in xs[max(0, i - n + 1):i + 1] if x is not None]
            rows[i][j] = (sum(round(x * 1e6) for x in win) / 1e6 / len(win)) if win else None
    else:
        prev = None
        for i, x in enumerate(xs):
            if x is not None:
                prev = x if prev is None else param * x + (1 - param) * prev
                rows[i][j] = prev
