#!/usr/bin/env python3
"""Local self-check that emulates the driver's DuckDB-oracle compare.

Dev-only tooling (driver-side python env); NOT part of the engine.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet result produced by graft.Verify,
runs the matching SQL from oracle_sql.json in DuckDB against the sfDir
parquet tables, and compares: column names (sorted), COLUMN TYPES (sorted
by name, normalized), row count, and value-hash over rows sorted by all
columns. Mirrors BASELINE.md's "hash-match" gate as strictly as we can
guess it — exact value equality, no float tolerance.

The type check matters: the driver's compare hashes *typed* values (DuckDB
HUGEINT exports to Arrow as decimal128, not int64), so an oracle `sum()` of
an integer column that is value-equal but HUGEINT-typed still fails the
driver gate. Round 1 lost 10 queries to exactly that while this script
printed PASS (ADVICE.md r1) — hence TYPES-MISMATCH is now a FAIL here.
"""
import sys, json, glob, os
import duckdb

def norm_type(t):
    # Collapse integer widths (the driver compares python ints equal across
    # int32/int64 parquet/arrow) but keep HUGEINT distinct — it round-trips
    # as decimal128 and breaks the typed hash.
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "INT"
    return s

def norm_cell(v):
    # Normalize engine-representation differences that are not value
    # differences: timestamps → isoformat, Decimal → str, floats → repr bits.
    import datetime, decimal
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    return v

def table_key(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in idx) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out

# Types whose parquet/arrow round-trip representation has burned a round of
# driver typed-hash compares before (r1: HUGEINT; r8: DECIMAL on q30) —
# value-identical results can still hash-mismatch through these.
RISK_TYPES = ("DECIMAL", "HUGEINT", "TIMESTAMP WITH TIME ZONE")

def col_profile(rows, cols, types):
    """Per-column {type, nulls, min, max, checksum} — order-insensitive,
    computed from normalized cells so engine and oracle sides are directly
    comparable (VERDICT r8 item 2: localize WHICH column diverges)."""
    import hashlib
    prof = {}
    for i, c in enumerate(cols):
        vals = [norm_cell(r[i]) for r in rows]
        nn = [v for v in vals if v is not None]
        ck = 0
        for v in nn:
            ck ^= int(hashlib.md5(repr(v).encode()).hexdigest()[:15], 16)
        prof[c] = {
            "type": norm_type(types[i]) if not isinstance(types, dict) else types[c],
            "nulls": len(vals) - len(nn),
            "min": str(min(nn, key=lambda x: str(x))) if nn else None,
            "max": str(max(nn, key=lambda x: str(x))) if nn else None,
            "checksum": ck,
        }
    return prof

def profile_diff(name, got_rows, exp_rows, cols, got_types, exp_types):
    """One-look localization: which column(s) carry the mismatch."""
    gp = col_profile(got_rows, cols, got_types)
    ep = col_profile(exp_rows, cols, exp_types)
    lines = []
    for c in cols:
        bad = [k for k in ("type", "nulls", "min", "max", "checksum")
               if gp[c][k] != ep[c][k]]
        if bad:
            lines.append(f"    column {c}: differs on {bad} "
                         f"spark={ {k: gp[c][k] for k in bad} } "
                         f"oracle={ {k: ep[c][k] for k in bad} }")
    if not lines:
        lines.append("    (no per-column profile delta — ordering/pairing issue)")
    return "\n".join(lines)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for f in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    seen = bad = 0

    def report(name, r):
        # one line per query as soon as it is compared, flushed, so a run
        # cut short (a timeout at sf0.1) keeps every result it reached
        nonlocal seen, bad
        seen += 1
        status = "PASS" if r.startswith("OK") or r.startswith("NO-ORACLE") else "FAIL"
        if status == "FAIL":
            bad += 1
        print(f"[{status}] {name}: {r}", flush=True)

    # A query that threw Spark-side leaves no result dir — flag it rather
    # than silently skipping (q65 r2 dev: Verify logged the failure but this
    # script reported all-pass).
    have = {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}
    for name in sorted(set(oracles) - have):
        report(name, "MISSING-RESULT (query failed in Verify?)")
    for name in sorted(have):
        d = os.path.join(out_dir, name)
        got = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        got_cols = list(got.columns)
        got_types = dict(zip(got_cols, [norm_type(t) for t in got.types]))
        got_rows = got.fetchall()
        if name not in oracles:
            report(name, f"NO-ORACLE rows={len(got_rows)}")
            continue
        try:
            exp = con.sql(oracles[name])
            exp_cols = list(exp.columns)
            exp_types = dict(zip(exp_cols, [norm_type(t) for t in exp.types]))
            exp_rows = exp.fetchall()
        except Exception as e:
            report(name, f"ORACLE-ERROR {e}")
            continue
        if sorted(got_cols) != sorted(exp_cols):
            report(name, f"COLS-MISMATCH got={sorted(got_cols)} exp={sorted(exp_cols)}")
            continue
        tdiff = {c: (got_types[c], exp_types[c]) for c in got_cols
                 if got_types[c] != exp_types[c]}
        if tdiff:
            report(name, f"TYPES-MISMATCH (spark,oracle)={tdiff}")
            continue
        if len(got_rows) != len(exp_rows):
            report(name, f"ROWS-MISMATCH got={len(got_rows)} exp={len(exp_rows)}")
            continue
        g = table_key(got_rows, got_cols)
        e = table_key(exp_rows, exp_cols)
        # typed-hash risk lint: flag representation-fragile column types
        # even when values compare equal (the q30-class failure mode —
        # the driver's hash is stricter than this script's normalization)
        risks = [f"{c}:{t}" for c, t in zip(got.columns,
                 [str(x).upper() for x in got.types])
                 if any(r in t for r in RISK_TYPES)]
        risk_note = f" [RISK typed-hash: {risks}]" if risks else ""
        if g != e:
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(g, e)) if a != b][:3]
            loc = profile_diff(name, got_rows, exp_rows, got_cols,
                               got_types, exp_types)
            report(name, f"VALUES-MISMATCH first_diffs={diffs}\n{loc}")
        else:
            report(name, f"OK rows={len(got_rows)}{risk_note}")
    print(f"\n{seen - bad}/{seen} pass")
    sys.exit(1 if bad else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
