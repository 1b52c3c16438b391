#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run each oracle SQL in
DuckDB over the same parquet tables and compare (column-name-sorted,
row-sorted) values against the Spark parquet dumps produced by graft.Verify.

Usage: python3 tools/check.py [sf_dir] [verify_out_dir] [--json OUT.json] [-j N]

Every query listed in the verify dir's failed.tsv (written by graft.Verify:
one query<TAB>error line per query that threw) is a FAIL, --subset or not.

With --json, also writes a machine-readable summary (counts + per-query
status/rows) so every round has a committed correctness record even if the
driver-side artifact arrives empty (round-8 failure mode).

Queries are checked in parallel (-j workers, default = min(16, cpus)): each
worker owns an independent in-memory DuckDB connection with the parquet
views, so the per-query oracle runs are embarrassingly parallel. Output
lines are printed as results complete (unordered); the summary and the
--json artifact are deterministic (sorted by query name).
"""
import sys, os, json, glob
import multiprocessing as mp

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_CON = None
_SF = None
_OUT = None
_ORACLE = None


def norm(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object:
            # decimals -> canonical string
            df[c] = s.map(lambda v: None if v is None else str(v))
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df


def _init(sf, out, oracle):
    global _CON, _SF, _OUT, _ORACLE
    import duckdb
    _SF, _OUT, _ORACLE = sf, out, oracle
    _CON = duckdb.connect()
    # bound per-worker parallelism: N workers x default 32 threads
    # oversubscribes the box and a wide-CTE oracle (q337's unrolled
    # rounds re-scan events per reference) exhausts the fd limit
    _CON.execute("SET threads TO 4")
    for t in TABLES:
        p = f"{sf}/{t}.parquet"
        if os.path.exists(p):
            _CON.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def check_one(name):
    """Check a single query; returns (name, result_dict, lines_to_print)."""
    import pandas as pd
    lines = []
    files = glob.glob(f"{_OUT}/{name}/*.parquet")
    if not files:
        return name, {"status": "fail", "reason": "no output files"}, \
            [f"FAIL {name}: no spark output files"]
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if name not in _ORACLE:
        return name, {"status": "rows_only", "rows": len(got)}, \
            [f"ROWS {name}: {len(got)} rows (no oracle)"]
    try:
        exp = _CON.execute(_ORACLE[name]).df()
    except Exception as e:
        return name, {"status": "fail", "reason": f"oracle SQL error: {e}"}, \
            [f"FAIL {name}: oracle SQL error: {e}"]
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        return name, {"status": "fail", "reason": "column mismatch"}, \
            [f"FAIL {name}: columns spark={list(g.columns)} duck={list(e.columns)}"]
    if len(g) != len(e):
        return name, {"status": "fail",
                      "reason": f"row count spark={len(g)} duck={len(e)}"}, \
            [f"FAIL {name}: rows spark={len(g)} duck={len(e)}"]
    # dtype-strict int-vs-float: the driver hashes raw values, so a Spark
    # BIGINT 3 vs an oracle float64 3.0 (DuckDB HUGEINT -> pandas float64)
    # is a hash FAIL even though values compare equal. Mirror that here.
    kind_fail = False
    for c in g.columns:
        gk = "i" if pd.api.types.is_integer_dtype(g[c]) else (
             "f" if pd.api.types.is_float_dtype(g[c]) else "o")
        ek = "i" if pd.api.types.is_integer_dtype(e[c]) else (
             "f" if pd.api.types.is_float_dtype(e[c]) else "o")
        if gk != ek:
            lines.append(f"FAIL {name}: dtype kind mismatch col {c}: "
                         f"spark={g[c].dtype} duck={e[c].dtype}")
            kind_fail = True
    if kind_fail:
        return name, {"status": "fail", "reason": "dtype kind mismatch"}, lines
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        return name, {"status": "pass", "rows": len(g)}, \
            [f"PASS {name} ({len(g)} rows)"]
    except AssertionError:
        lines.append(f"FAIL {name}: value mismatch")
        # show first differing cells
        for c in g.columns:
            neq = ~((g[c] == e[c]) | (g[c].isna() & e[c].isna()))
            if neq.any():
                i = neq.idxmax()
                lines.append(f"  col {c} row {i}: spark={g[c][i]!r} "
                             f"duck={e[c][i]!r} ({int(neq.sum())} diffs)")
        return name, {"status": "fail", "reason": "value mismatch"}, lines


def read_failed(path):
    """{query: error} from graft.Verify's failed.tsv ({} when absent)."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        rows = [ln.rstrip("\n").split("\t", 1) for ln in f.readlines()[1:]]
    return {r[0]: (r[1] if len(r) > 1 else "") for r in rows if r[0]}


def main():
    args = list(sys.argv[1:])
    json_out = None
    jobs = min(16, os.cpu_count() or 1)
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i:i + 2]
    if "-j" in args:
        i = args.index("-j")
        jobs = int(args[i + 1])
        del args[i:i + 2]
    subset = "--subset" in args   # partial verify dir: skip the
    if subset:                    # missing-output-is-a-FAIL sweep
        args.remove("--subset")
    sf = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    out = args[1] if len(args) > 1 else "/tmp/verify_out"
    per_query = {}
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass = n_fail = 0
    all_dirs = {os.path.basename(p) for p in glob.glob(f"{out}/*") if os.path.isdir(p)}
    # a query that threw inside graft.Verify is a FAIL, never a silent skip:
    # Verify lists it in failed.tsv (any dir it has is stale or partial)
    failed = read_failed(f"{out}/failed.tsv")
    for name, err in sorted(failed.items()):
        print(f"FAIL {name}: query failed in Verify: {err}")
        per_query[name] = {"status": "fail", "reason": f"failed in Verify: {err}"}
        n_fail += 1
    # without --subset every oracle entry must have written output
    for missing in (() if subset else sorted(set(oracle) - all_dirs - set(failed))):
        print(f"FAIL {missing}: no spark output (query failed in Verify)")
        per_query[missing] = {"status": "fail", "reason": "no spark output"}
        n_fail += 1
    names = sorted(all_dirs - set(failed))
    entries = len(all_dirs | set(failed))
    with mp.Pool(jobs, initializer=_init, initargs=(sf, out, oracle)) as pool:
        for name, res, lines in pool.imap_unordered(check_one, names, chunksize=1):
            per_query[name] = res
            for ln in lines:
                print(ln, flush=True)
            if res["status"] == "pass":
                n_pass += 1
            elif res["status"] == "fail":
                n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail, {entries} total")
    if json_out:
        n_rows_only = sum(1 for v in per_query.values() if v["status"] == "rows_only")
        summary = {
            "sf_dir": sf, "entries": entries,
            "oracle_green": n_pass, "rows_only": n_rows_only, "fail": n_fail,
            "queries": {k: per_query[k] for k in sorted(per_query)},
        }
        with open(json_out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
