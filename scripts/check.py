#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: run each oracle SQL
in DuckDB over the same parquet tables, load the corresponding Spark
result parquet, sort columns by name + rows by value, compare exactly.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir> [query ...]
"""
import sys, os, json, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return [cols[i] for i in order], out

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v

def connect(sf):
    """A DuckDB connection with one view per scale-factor table in `sf`."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con

def main():
    sf, out = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = connect(sf)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    n_pass = n_fail = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        sql = oracle[name]
        mine_dir = os.path.join(out, name)
        if not os.path.isdir(mine_dir):
            print(f"FAIL {name}: no spark output dir")
            n_fail += 1
            continue
        try:
            # .df() (pandas) on both sides, like the driver: this is what
            # exposes DuckDB HUGEINT results (e.g. SUM(BIGINT)) degrading
            # to float64 — fetchall() would hide the divergence.
            mdf = con.execute(
                f"SELECT * FROM read_parquet('{mine_dir}/*.parquet')").df()
            mrows, mcols = list(mdf.itertuples(index=False, name=None)), list(mdf.columns)
            odf = con.execute(sql).df()
            orows, ocols = list(odf.itertuples(index=False, name=None)), list(odf.columns)
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        # Integer columns that pandas degraded to float64 (nullable ints,
        # DuckDB HUGEINT) lose exactness above 2^53 on BOTH sides — the
        # compare can then mask genuine large-integer divergences. The
        # trigger consults the DECLARED (DuckDB DESCRIBE) types, not the
        # pandas dtypes: if BOTH sides degrade to float64 (oracle
        # HUGEINT + nullable-int parquet), pandas alone can no longer
        # tell the column was integral, and the exact re-compare must
        # still fire (round-4 advice, second iteration).
        def f64(df, c):
            return str(df[c].dtype) == "float64"
        INT_TYPES = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                     "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT")
        def decl_types(q):
            try:
                return {r[0]: str(r[1]) for r in
                        con.execute(f"DESCRIBE {q}").fetchall()}
            except Exception:
                return {}
        ot = decl_types(sql)
        mt = decl_types(f"SELECT * FROM read_parquet('{mine_dir}/*.parquet')")
        def declared_integral(c):
            return ot.get(c, "") in INT_TYPES or mt.get(c, "") in INT_TYPES
        # Driver-hash emulation: the driver hashes the stringified cell
        # values, so a column that is float64 on ONE side and int64 on
        # the other ("3.0" vs "3") hash-mismatches even though Python's
        # cross-type == would call the values equal (round-6 curate_pack:
        # DuckDB SUM OVER window -> HUGEINT -> pandas float64). Fail it
        # here so the local gate catches what the driver will flag —
        # the fix is always a CAST on the oracle side.
        # Normalize kinds first: unsigned counts as integer, and object/
        # extension columns (nullable Int64, or plain object rows that
        # arise when a side has NULLs) are sniffed from their non-null
        # values — otherwise an int-vs-float pairing hiding behind kind
        # 'u'/'O' slips past the gate while the driver's stringified
        # hash still mismatches.
        def kind_of(df, c):
            k = df[c].dtype.kind
            if k == "u":
                return "i"
            if k == "O":
                vals = [v for v in df[c] if v is not None
                        and not (isinstance(v, float) and math.isnan(v))]
                if vals and all(isinstance(v, bool) for v in vals):
                    return "b"
                if vals and all(isinstance(v, int) for v in vals):
                    return "i"
                if vals and all(isinstance(v, (int, float)) for v in vals):
                    return "f"
            return k
        kind_bad = [c for c in odf.columns if c in mdf.columns
                    and {kind_of(odf, c), kind_of(mdf, c)} == {"f", "i"}]
        if kind_bad:
            print(f"FAIL {name}: pandas dtype-kind mismatch {kind_bad} "
                  f"(float on one side, int on the other — the driver's "
                  f"value hash will differ; CAST the oracle column)")
            n_fail += 1
            continue
        degraded = [c for c in odf.columns
                    if c in mdf.columns
                    and (f64(odf, c) or f64(mdf, c))
                    and declared_integral(c)]
        if degraded:
            print(f"WARN {name}: oracle columns degraded to float64 vs int "
                  f"spark side {degraded} — re-running the row compare in exact mode")
            # Exact-mode re-compare of FULL ROWS via fetchall (one query
            # per side): HUGEINT/BIGINT stay Python ints, so >2^53
            # values compare exactly, and row association is preserved
            # (per-column multisets would miss values swapped between
            # rows that round to the same float64).
            try:
                ocur = con.execute(sql)
                ecols_o = [d[0] for d in ocur.description]
                erows_o = ocur.fetchall()
                mcur = con.execute(
                    f"SELECT * FROM read_parquet('{mine_dir}/*.parquet')")
                ecols_m = [d[0] for d in mcur.description]
                erows_m = mcur.fetchall()
            except Exception as e:
                print(f"FAIL {name}: exact pass errored: {e}")
                n_fail += 1
                continue
            ec_m, er_m = canon(erows_m, ecols_m)
            ec_o, er_o = canon(erows_o, ecols_o)
            if ec_m != ec_o or er_m != er_o:
                bad = [(a, b) for a, b in zip(er_m, er_o) if a != b]
                print(f"FAIL {name}: exact-mode mismatch "
                      f"({len(bad)}/{len(er_m)} rows differ)")
                for a, b in bad[:3]:
                    print("   mine  :", a)
                    print("   oracle:", b)
                n_fail += 1
                continue
        mc, mr = canon(mrows, mcols)
        oc, orr = canon(orows, ocols)
        if mc != oc:
            print(f"FAIL {name}: schema {mc} vs oracle {oc}")
            n_fail += 1
            continue
        if len(mr) != len(orr):
            print(f"FAIL {name}: rows {len(mr)} vs oracle {len(orr)}")
            print("  mine-only:", [r for r in mr[:2000] if r not in set(orr)][:3])
            print("  oracle-only:", [r for r in orr[:2000] if r not in set(mr)][:3])
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(mr, orr) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)}/{len(mr)} rows differ; first: ")
            for a, b in bad[:3]:
                print("   mine  :", a)
                print("   oracle:", b)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(mr)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
