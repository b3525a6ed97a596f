#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [jsonOut] [--only NAME ...]

Reads each <verifyOutDir>/<name>/ parquet result (written by graft.Verify),
runs the matching SQL from oracle_sql.json in DuckDB over the sfDir tables,
and compares as sorted multisets (columns sorted by name, values normalized).
With --only, checks just the named queries (the names a subset
`graft.Verify <sfDir> <outDir> NAME ...` run was given) and exits 0 when
they all pass; a name with neither an oracle nor a result fails.
With [jsonOut], also writes a {name: {"status": ..., "rows": N}} artifact —
committed at round close so the gate record is reproducible in-history even
when the driver's own CORRECTNESS artifact starves (see SCALE.md "Gate
economics"). This is a development tool only — the engine itself never
depends on it.
"""
import argparse
import json
import math
import sys
from decimal import Decimal
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return [c for c in sorted(cols)], out


# Type pairs (spark_side, oracle_side) treated as equal beyond identity.
# The driver's hash is TYPE-sensitive (sim_bucket_sample shipped red twice on
# a value-identical HUGEINT-vs-BIGINT mismatch), so the default is STRICT:
# only integer-width promotions that DuckDB's own parquet reader performs are
# allowed. Everything else — HUGEINT, DECIMAL, FLOAT-vs-DOUBLE — fails.
TYPE_OK = {
    ("INTEGER", "BIGINT"), ("BIGINT", "INTEGER"),
    ("SMALLINT", "INTEGER"), ("SMALLINT", "BIGINT"),
    ("TINYINT", "INTEGER"), ("TINYINT", "BIGINT"),
}


def types_mismatch(gcols, gtypes_by_col, etypes_by_col):
    """Return a list of 'col: spark_type != oracle_type' strings (empty = ok)."""
    bad = []
    for c in gcols:
        gt, et = str(gtypes_by_col[c]).upper(), str(etypes_by_col[c]).upper()
        if gt != et and (gt, et) not in TYPE_OK:
            bad.append(f"{c}: spark {gt} != oracle {et}")
    return bad


def main():
    ap = argparse.ArgumentParser(description="Compare graft.Verify results with the DuckDB oracle.")
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("json_out", nargs="?")
    ap.add_argument("--only", nargs="+", metavar="NAME", help="check only these queries")
    args = ap.parse_args()
    sf_dir, out_dir, json_out = args.sf_dir, args.out_dir, args.json_out
    only = set(args.only) if args.only else None
    record = {}
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    failures = 0
    if only is not None:
        for name in sorted(only - set(oracle)):
            if not Path(out_dir, name).is_dir():
                print(f"FAIL {name}: no such query")
                record[name] = {"status": "FAIL", "reason": "no such query"}
                failures += 1
    for name in sorted(oracle):
        if only is not None and name not in only:
            continue
        res_dir = Path(out_dir, name)
        if not res_dir.exists():
            print(f"FAIL {name}: no result parquet")
            record[name] = {"status": "FAIL", "reason": "no result parquet"}
            failures += 1
            continue
        got = con.sql(f"SELECT * FROM '{res_dir}/*.parquet'")
        gcols, grows = canon(got.columns, got.fetchall())
        try:
            exp = con.sql(oracle[name])
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            record[name] = {"status": "FAIL", "reason": f"oracle SQL error: {e}"}
            failures += 1
            continue
        ecols, erows = canon(exp.columns, exp.fetchall())
        record[name] = {"status": "FAIL", "rows": len(grows)}
        gtypes = {c.lower(): t for c, t in zip(got.columns, got.types)}
        etypes = {c.lower(): t for c, t in zip(exp.columns, exp.types)}
        if [c.lower() for c in gcols] != [c.lower() for c in ecols]:
            print(f"FAIL {name}: columns {gcols} != {ecols}")
            failures += 1
        elif bad := types_mismatch([c.lower() for c in gcols], gtypes, etypes):
            print(f"FAIL {name}: output types differ: {'; '.join(bad)}")
            record[name]["reason"] = "type mismatch: " + "; ".join(bad)
            failures += 1
        elif grows != erows:
            print(f"FAIL {name}: {len(grows)} rows vs {len(erows)} oracle rows")
            diff_shown = 0
            for a, b in zip(grows, erows):
                if a != b and diff_shown < 3:
                    print(f"   got {a}\n   exp {b}")
                    diff_shown += 1
            if len(grows) != len(erows):
                only_got = set(grows) - set(erows)
                only_exp = set(erows) - set(grows)
                for r in list(only_got)[:3]:
                    print(f"   only-got {r}")
                for r in list(only_exp)[:3]:
                    print(f"   only-exp {r}")
            failures += 1
        else:
            print(f"PASS {name} ({len(grows)} rows)")
            record[name] = {"status": "PASS", "rows": len(grows)}
    # queries with no oracle: rows-only check
    for d in sorted(Path(out_dir).iterdir()):
        if d.is_dir() and d.name not in oracle and (only is None or d.name in only):
            n = con.sql(f"SELECT count(*) FROM '{d}/*.parquet'").fetchone()[0]
            print(f"ROWS {d.name}: {n} rows {'(OK)' if n > 0 else '(EMPTY!)'}")
            record[d.name] = {"status": "ROWS" if n > 0 else "EMPTY", "rows": n}
    if json_out:
        Path(json_out).write_text(json.dumps(record, indent=1, sort_keys=True))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
