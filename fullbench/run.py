#!/usr/bin/env python3
"""Full-result benchmark of the graft library.

Run from the root of a checkout:

    python3 fullbench/run.py --workload fetch|analytics|pipeline \
        --seed N --seconds S --trace 0|1

The first run builds the library and the benchmark from the checkout's
sources (sbt, offline) and, for `fetch`, generates the 2x-scaled fixture
with tools/make_scaled_sf.py. Both are kept under .bench_build/ and reused.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; end-to-end metrics with
--trace 0, per-layer metrics of a traced run with --trace 1.

Other modes (not timed):
    --mode expect       re-record fullbench/expected/ from the fixtures
    --mode crosscheck   compare the expected hashes with a graft.Verify dump
                        (--verify-out DIR)
    --mode test         run the benchmark's own tests (registry coverage)
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "fullbench")
LAUNCH = os.path.join(HERE, "target", "launch")
# fixture tables, laid out as TESTDATA.md describes
TESTDATA = os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))
QUERY_SF = "sf0.01"   # scale of the analytics and pipeline workloads
FETCH_BASE_SF = "sf0.1"  # scaled FETCH_COPIES times for fetch
FETCH_COPIES = 2
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def log(msg):
    print(f"[fullbench] {msg}", file=sys.stderr, flush=True)


def run_checked(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"[fullbench] timed out after {timeout}s: {' '.join(cmd[:3])}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                h.update(os.path.relpath(os.path.join(d, f), ROOT).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", "project/build.properties"):
        for base in (ROOT, HERE):
            p = os.path.join(base, f)
            if os.path.exists(p):
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def sbt(*tasks, timeout=BUILD_TIMEOUT_S):
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    rc, out = run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                          timeout, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if rc != 0:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"[fullbench] sbt {' '.join(tasks)} failed ({rc})")
    return out


def build():
    """Compiles library + benchmark unless the sources are unchanged."""
    want = source_hash()
    stamp = os.path.join(LAUNCH, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    t0 = time.time()
    sbt("writeLaunch")
    with open(stamp, "w") as fh:
        fh.write(want)
    log(f"build took {time.time() - t0:.1f}s")


def duck_lineitem_sum(path):
    """DuckDB's order-independent checksum of a lineitem parquet file."""
    import duckdb
    con = duckdb.connect()
    row = con.sql(
        "SELECT count(*), sum(l_orderkey), sum(l_suppkey), sum(l_linenumber) "
        f"FROM read_parquet('{path}')").fetchone()
    return ",".join(str(int(v)) for v in row)


def fetch_input():
    """The scaled fixture and its DuckDB checksum, generated once."""
    import duckdb
    src = os.path.join(TESTDATA, FETCH_BASE_SF)
    dst = os.path.join(WORK, f"{FETCH_BASE_SF}x{FETCH_COPIES}")
    con = duckdb.connect()
    want_rows = FETCH_COPIES * con.sql(
        f"SELECT count(*) FROM read_parquet('{src}/lineitem.parquet')").fetchone()[0]
    sum_file = os.path.join(dst, "lineitem.checksum")
    if os.path.exists(sum_file):
        have = open(sum_file).read().strip()
        if int(have.split(",")[0]) == want_rows:
            return dst, have
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)
    t0 = time.time()
    rc, _ = run_checked([sys.executable, os.path.join(ROOT, "tools", "make_scaled_sf.py"),
                         src, tmp, str(FETCH_COPIES)], 600,
                        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    if rc != 0:
        raise SystemExit("[fullbench] tools/make_scaled_sf.py failed")
    checksum = duck_lineitem_sum(os.path.join(tmp, "lineitem.parquet"))
    if int(checksum.split(",")[0]) != want_rows:
        raise SystemExit(f"[fullbench] scaled lineitem has {checksum} rows, want {want_rows}")
    with open(os.path.join(tmp, "lineitem.checksum"), "w") as fh:
        fh.write(checksum)
    os.rename(tmp, dst)
    print(f"[fullbench] fetch scaled_input_generation_s = {time.time() - t0:.3f} s (not in setup_s)", flush=True)
    return dst, checksum


def java(args, timeout=RUN_TIMEOUT_S):
    """Runs fullbench.Main; returns its stdout lines (stderr goes to a log)."""
    with open(os.path.join(LAUNCH, "classpath")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(LAUNCH, "jvm_options")) as fh:
        opts = [o for o in fh.read().split("\n") if o]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opts, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "fullbench.Main", "--work", WORK, *args]
    logfile = os.path.join(WORK, "last_run.log")
    with open(logfile, "w") as err:
        rc, out = run_checked(cmd, timeout, cwd=WORK, stdout=subprocess.PIPE,
                              stderr=err, text=True)
    if rc != 0:
        with open(logfile) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"[fullbench] fullbench.Main exited with {rc}")
    return out.splitlines()


def main():
    # a terminated run stops its children too (see run_checked)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["fetch", "analytics", "pipeline"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--mode", choices=["run", "expect", "crosscheck", "test"], default="run")
    ap.add_argument("--verify-out")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("[fullbench] no graft sources next to the benchmark: "
                         "run from the root of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    expected = os.path.join(HERE, "expected", f"{QUERY_SF}.tsv")
    query_dir = os.path.join(TESTDATA, QUERY_SF)
    cpus = str(len(os.sched_getaffinity(0)))
    if a.mode == "test":
        sys.stdout.write(sbt("test")[-3000:])
        return
    build()
    if a.mode == "expect":
        print("\n".join(java(["--mode", "expect", "--sf-dir", query_dir, "--expected", expected,
                              "--cpus", cpus], timeout=1800)))
        return
    if a.mode == "crosscheck":
        print("\n".join(java(["--mode", "crosscheck", "--expected", expected,
                              "--verify-out", a.verify_out, "--cpus", cpus], timeout=900)))
        return
    if not a.workload:
        ap.error("--workload is required")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", cpus, "--sf-dir", query_dir, "--expected", expected]
    if a.workload == "fetch":
        scaled, checksum = fetch_input()
        args += ["--fetch-dir", scaled, "--fetch-sum", checksum]
    lines = java(args)
    result = [l for l in lines if l.startswith("{")]
    if not result:
        raise SystemExit("[fullbench] no result line")
    for l in lines:
        if not l.startswith("{"):
            print(l)
    print(result[-1], flush=True)


if __name__ == "__main__":
    main()
