"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the harness from
source (perfbench/build.py), generates the inputs (perfbench/gen_data.py),
runs perfbench.PerfBench in one JVM and prints, as the last stdout line, one
JSON object {"correct", "attempted", "failed", "metrics"}. Everything it
writes lives under the build directory (CARGO_TARGET_DIR, default
.bench_build). Workloads, metrics and inputs: perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ("elt_marts", "iterative_loops", "corpus_5x")
DEADLINE_S = 170  # a run must end within 180 s once built
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def java_cmd(tmp, heap="2g"):
    """`java` with the module opens Spark needs, a fixed maximum heap and
    every temporary file under `tmp`."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + [f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def prepare_data(data, workload, seed, cp):
    """Generates each tier once per build directory (the data seed is
    fixed); the 5x corpus is `tools.ScaleUp <sf0.1> <dir> 5 unique`,
    re-ordered for every benchmark seed."""
    gen_text = open(os.path.join(HERE, "gen_data.py"), "rb").read()

    def once(name, make, stamp_text=gen_text):
        d = os.path.join(data, name)
        stamp = os.path.join(d, ".stamp")
        if not (os.path.exists(stamp) and open(stamp, "rb").read() == stamp_text):
            shutil.rmtree(d, ignore_errors=True)
            make(d)
            with open(stamp, "wb") as fh:
                fh.write(stamp_text)

    def scale_up(d):
        tmp = os.path.join(data, "scaleup_tmp")
        os.makedirs(tmp, exist_ok=True)
        try:
            subprocess.run(java_cmd(tmp) + ["-cp", cp, "graft.tools.ScaleUp",
                                            os.path.join(data, "sf0.1"), d, "5", "unique"],
                           cwd=tmp, check=True, stdout=sys.stderr, stderr=subprocess.DEVNULL)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    for sf in ("0.001", "0.01", "0.1"):
        once(f"sf{sf}", lambda d: gen_data.generate(float(sf), d))
    if workload == "corpus_5x":
        scale_up_src = os.path.join(HERE, "..", "src/main/scala/graft/tools/ScaleUp.scala")
        once("corpus5x", scale_up, gen_text + open(scale_up_src, "rb").read())
        for old in os.listdir(data):
            if old.startswith("corpus5x_seed"):
                shutil.rmtree(os.path.join(data, old))
        gen_data.shuffle_rows(os.path.join(data, "corpus5x"),
                              os.path.join(data, f"corpus5x_seed{seed}"), seed)


def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    ap.add_argument("--record", choices=("0", "1"), default="0",
                    help="print output checksums instead of checking them")
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    out = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(out, exist_ok=True)
    cp = build.build(out)
    data = os.path.join(out, "data")
    prepare_data(data, a.workload, a.seed, cp)
    work = os.path.join(out, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    # A fixed-size heap that is not pre-touched: pages become resident only
    # when the run touches them, so the resident set follows the old
    # generation (cached blocks included). A fixed size and a fixed young
    # generation keep G1's heap and young-generation resizing, which
    # depends on GC timing, from moving the resident set between runs.
    cmd = java_cmd(tmp) + [
        "-Xms2g", "-Xmn384m", "-cp", cp, "perfbench.PerfBench",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--record", a.record,
        "--data", data, "--work", work, "--cores", str(os.cpu_count()),
        "--expected", os.path.join(HERE, "expected.tsv")]
    log_path = os.path.join(out, f"{a.workload}.log")
    # the first run of a checkout also builds; give its JVM the usual time
    timeout = max(DEADLINE_S - (time.monotonic() - started), 120)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: JVM exceeded {timeout:.0f} s; log in {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    lines = stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if proc.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        sys.exit(f"perfbench: JVM exited with {proc.returncode}; log in {log_path}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    print(json.dumps(result))


if __name__ == "__main__":
    main()
