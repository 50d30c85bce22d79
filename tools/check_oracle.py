#!/usr/bin/env python3
"""Local emulation of the driver's DuckDB oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query dumped by graft.Verify: load the Spark parquet result and
run the oracle SQL in DuckDB (tables = views over the sfDir parquet), then
compare schemas (column name sets), row counts, and values (columns sorted
by name, rows sorted by all columns, doubles rounded to 9 significant-ish
decimals). This is a dev tool only — the real gate is the driver's.
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted(c for c in cols), out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            gcols = [d[0] for d in got.description]
            grows = got.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark result unreadable: {e}")
            n_bad += 1
            continue
        try:
            exp = con.execute(sql)
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}")
            n_bad += 1
            continue
        # The driver's hash is type-sensitive; our 9-sig-digit norm is
        # not. A DuckDB HUGEINT (e.g. an uncast sum(BIGINT)) can never
        # hash-match a Spark BIGINT even when every value is equal —
        # exactly how the round-19 NB rows failed the driver while
        # passing here — so it is a hard FAIL, not a warning.
        try:
            dts = con.execute(f"DESCRIBE ({sql})").fetchall()
            huge = [c[0] for c in dts if c[1] in ("HUGEINT", "UHUGEINT")]
        except Exception as e:
            # The gate could not run: say so rather than passing the
            # query as if its column types were known to be clean.
            print(f"WARN {name}: could not DESCRIBE oracle SQL ({e})")
            huge = []
        if huge:
            print(f"FAIL {name}: oracle emits HUGEINT column(s) {huge}; "
                  f"CAST the sum/aggregate to BIGINT in the oracle SQL")
            n_bad += 1
            continue
        # The driver's hash distinguishes 1 from 1.0; our 9-sig-digit norm
        # does not, so flag float-vs-int column type splits explicitly.
        for ci, c in enumerate(gcols):
            if c not in ecols:
                continue
            ei_ = ecols.index(c)
            gv = next((r[ci] for r in grows if r[ci] is not None), None)
            ev = next((r[ei_] for r in erows if r[ei_] is not None), None)
            if gv is not None and ev is not None:
                gf, ef = isinstance(gv, float), isinstance(ev, float)
                if gf != ef:
                    print(f"WARN {name}: column {c} float/int mismatch "
                          f"spark={type(gv).__name__} duckdb={type(ev).__name__}")
        gc, gr = canon(gcols, grows)
        ec, er = canon(ecols, erows)
        if gc != ec:
            print(f"FAIL {name}: columns differ spark={gc} duckdb={ec}")
            n_bad += 1
            continue
        if len(gr) != len(er):
            print(f"FAIL {name}: rowcount spark={len(gr)} duckdb={len(er)}")
            n_bad += 1
            continue
        diffs = [(a, b) for a, b in zip(gr, er) if a != b]
        if diffs:
            print(f"FAIL {name}: {len(diffs)}/{len(gr)} rows differ; first:")
            print(f"  cols : {gc}")
            print(f"  spark: {diffs[0][0]}")
            print(f"  duck : {diffs[0][1]}")
            n_bad += 1
            continue
        print(f"OK   {name} ({len(gr)} rows)")
        n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} failed")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
