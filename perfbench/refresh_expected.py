"""Re-derives perfbench/expected.tsv, the output checksums every run checks.

    python3 perfbench/refresh_expected.py

1. Runs each workload twice in record mode (traced, one pass, seeds 2 and
   1), which prints `<tier>\t<name>\t<rows>:<checksum>` for every query and
   layer probe instead of checking it. The two seeds issue the queries in
   different orders and read the 5x corpus in different row orders; every
   value must repeat across the two runs.
2. Checks the recorded outputs against the engine's DuckDB oracles
   (`SparkEntry.oracleSql`): graft.Verify dumps each query's result on the
   same input and scripts/check.py hash-compares it with the oracle's.
   Layer probes with an oracle are checked through their query (q117,
   q171, q101); table scans are checked by row count. Each recorded value
   must also equal the table checksum Verify profiles for that result.
   The 5x corpus runs q101's oracle with materialized CTEs (check_corpus).
3. Writes expected.tsv only when every check passes, and plan_shapes.json:
   each query's plan-shape and scheduler counts from the record runs' trace.

Needs the repository checkout (scripts/check.py) and takes ~20 minutes.
"""

import collections
import json
import os
import re
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

# layer probes whose output is exactly (up to projection) a named query's
PROBE_QUERY = {"kernel.pagerank": "q117_pagerank",
               "kernel.label_prop": "q171_lpa_communities",
               "pipeline.prepare": "q101_corpus_pipeline"}


SHAPE_KEYS = ("sql_execs", "exchanges", "bnlj", "cartesian", "jobs", "stages", "tasks")


def record(workload, seed, bdir):
    """(tier, name, value) rows and {query: plan-shape counts} of one record run."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", "1", "--record", "1"],
        cwd=ROOT, check=True, capture_output=True, text=True).stdout
    with open(os.path.join(bdir, "work", "trace", f"{workload}-seed{seed}.json")) as fh:
        shapes = {q["query"]: {k: q[k] for k in SHAPE_KEYS} for q in json.load(fh)["queries"]}
    return [tuple(l.split("\t")) for l in out.splitlines() if l.count("\t") == 2], shapes


def check_corpus(tdir, vout):
    """q101's oracle over the 5x corpus. scripts/check.py does not finish at
    this size because DuckDB re-evaluates each CTE per reference (the
    shingle CTE three times); marking the CTEs MATERIALIZED changes no
    result and takes ~2 minutes."""
    with open(os.path.join(vout, "oracle_sql.json")) as fh:
        sql = json.load(fh)["q101_corpus_pipeline"]
    for cte in ("hx", "sigs", "bands", "cands", "inter", "pairs", "edges", "labels",
                "exact_kept", "cleaned", "quality"):
        sql = re.sub(rf"(\n|RECURSIVE ){cte} AS \(", rf"\1{cte} AS MATERIALIZED (", sql, count=1)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tdir}/documents.parquet'")
    want = sorted(con.sql(sql).fetchall())
    got = sorted(con.sql(f"SELECT split, n_docs, n_chunks FROM "
                         f"'{vout}/q101_corpus_pipeline/*.parquet'").fetchall())
    return [] if got == want else [f"corpus q101: spark {got}, oracle {want}"]


def main():
    bdir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    rows, shapes = [], {}
    # seed 1 last: its 5x corpus is the one left on disk for the oracle
    for w in run.WORKLOADS:
        for seed in (2, 1):
            r, shapes[w] = record(w, seed, bdir)
            rows += r
    values = collections.defaultdict(set)
    for tier, name, v in rows:
        values[(tier, name)].add(v)
    unstable = {k: v for k, v in values.items() if len(v) > 1}
    if unstable:
        sys.exit(f"outputs differ between record runs: {unstable}")

    data = os.path.join(bdir, "data")
    cp = build.build(bdir)
    bad = []
    by_tier = collections.defaultdict(set)
    for tier, name in values:
        by_tier[tier].add(PROBE_QUERY.get(name, name))
    for tier, names in sorted(by_tier.items()):
        tdir = os.path.join(data, "corpus5x_seed1" if tier == "corpus5x" else tier)
        queries = sorted(n for n in names if n.startswith("q"))
        vout = os.path.join(bdir, "verify", tier)
        tmp = os.path.join(bdir, "verify", "tmp")
        os.makedirs(tmp, exist_ok=True)
        subprocess.run(run.java_cmd(tmp, "3g") + ["-cp", cp, "graft.Verify", tdir, vout] + queries,
                       check=True, stderr=subprocess.DEVNULL,
                       env=dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count())))
        if tier == "corpus5x":
            bad += check_corpus(tdir, vout)
        else:
            res = subprocess.run([sys.executable, os.path.join(ROOT, "scripts/check.py"), tdir, vout],
                                 capture_output=True, text=True).stdout
            status = {l.split("] ")[1].split(":")[0]: l[1:5] for l in res.splitlines()
                      if l.startswith("[")}
            bad += [f"{tier} {q}: {status.get(q, 'no result')}" for q in queries
                    if status.get(q) != "PASS"]
        probe_of = {q: p for p, q in PROBE_QUERY.items()}
        for q in queries:
            with open(os.path.join(vout, f"{q}.profile.json")) as fh:
                prof = json.load(fh)
            rec = values.get((tier, q)) or values.get((tier, probe_of.get(q)))
            if rec != {f"{prof['rows']}:{prof['table_checksum']}"}:
                bad.append(f"{tier} {q}: recorded {rec}, Verify profiled "
                           f"{prof['rows']}:{prof['table_checksum']}")
        con = duckdb.connect()
        for n in sorted(names):
            if n.startswith("scan:"):
                got = next(iter(values[(tier, n)])).split(":")[0]
                want = con.sql(f"SELECT count(*) FROM '{tdir}/{n[5:]}'").fetchone()[0]
                if int(got) != want:
                    bad.append(f"{tier} {n}: {got} rows, DuckDB reads {want}")
        print(f"{tier}: {len(queries)} queries oracle-checked", file=sys.stderr)
    if bad:
        sys.exit("oracle check failed:\n" + "\n".join(bad))
    with open(os.path.join(HERE, "expected.tsv"), "w") as fh:
        for (tier, name), v in sorted(values.items()):
            fh.write(f"{tier}\t{name}\t{next(iter(v))}\n")
    with open(os.path.join(HERE, "plan_shapes.json"), "w") as fh:
        json.dump(shapes, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
