#!/usr/bin/env python3
"""graft end-to-end benchmark: one run of one workload.

    python3 e2ebench/run.py --workload olap|gates|square-etl --seed N \
        --seconds S --trace 0|1 [--sf 0.01]

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into ``.bench_build`` (or ``$CARGO_TARGET_DIR``
when set); later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed, starts one JVM with a
``local[<cores>]`` session built by ``GraftSession.local``, runs set-up
and the measured passes, checks the outputs, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. The full record
goes to ``<build>/records/`` and, as a ``record:`` line, to stdout.
See e2ebench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import metrics  # noqa: E402

HARD_LIMIT_S = 170.0  # the whole run, build excluded
JVM_HEAP = "2g"

# workload -> (operations of one pass, scale factor of the generated inputs).
# square-etl runs at half the scale: an hourly run costs the same number of
# jobs at any scale, and the smaller feed keeps a run inside the budget.
WORKLOADS = {
    "olap": (["q3_shipping_priority", "q9_profit", "q13_cust_distribution", "sql2_correlated_subquery",
              "sql7_window_clause"], 0.01),
    "gates": (["k43_ndv_stats"], 0.01),
    "square-etl": (["hourly"], 0.005),
}

# Spark 4 on JDK 17 outside spark-submit (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


_children = set()


def _terminate(signum, _frame):
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    sys.exit(128 + signum)


def run_group(cmd, cwd, timeout, log_path, env=None):
    """Runs ``cmd`` in its own process group with stdout+stderr to
    ``log_path``; the whole group is killed on timeout or when this
    process is terminated. Returns the exit code (None after a timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        _children.add(p.pid)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            _children.discard(p.pid)


def source_stamp(root):
    """Hash of everything the build reads, so a changed source rebuilds."""
    harness = os.path.join(HERE, "harness")
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(harness, "build.sbt"), os.path.join(harness, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(harness, "src")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp_file = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx3g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if os.path.isfile(repos) else "")
    # sbt's own state (server socket, compiler bridge) stays in the build directory
    env["SBT_OPTS"] += f" -Dsbt.global.base={os.path.join(build_dir, 'sbt-global')} -Dsbt.server.autostart=false"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    log = os.path.join(build_dir, "build.log")
    rc = run_group(cmd, os.path.join(HERE, "harness"), 840, log, env)
    with open(log) as f:
        out = f.read()
    lines = [ln for ln in out.splitlines() if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, run_dir, args, deadline):
    scratch = os.path.join(run_dir, "scratch")
    for d in (scratch, os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")):
        os.makedirs(d, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", "-XX:-UsePerfData"] + ADD_OPENS + [
        "-Dspark.ui.enabled=false",
        f"-Dspark.graft.scratch.root={scratch}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'spark-warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "-cp", cp, "graftbench.Main"] + args)
    return run_group(cmd, run_dir, deadline - time.time(), os.path.join(run_dir, "jvm.log"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="input scale factor (default: the workload's)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "tools", "check.py"))):
        fail("run from the root of a graft checkout (build.sbt, src/main/scala/graft, tools/check.py)")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    # set-up starts here: everything from now to the first measured
    # operation is setup_s
    setup_start = time.time()
    deadline = setup_start + HARD_LIMIT_S
    import gen  # pandas and numpy load as part of set-up
    import checks

    for old in glob.glob(os.path.join(build_dir, "runs", "*")):
        shutil.rmtree(old, ignore_errors=True)
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    data = os.path.join(run_dir, "data")
    ops, default_sf = WORKLOADS[a.workload]
    a.sf = a.sf or default_sf
    tables = gen.write_tables(data, a.sf)
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--dump", os.path.join(run_dir, "dump"),
                "--ops", ",".join(ops), "--cores", str(cores()),
                "--out", os.path.join(run_dir, "record.json"),
                "--budget-s", str(max(10.0, HARD_LIMIT_S - 40.0 - (time.time() - setup_start)))]
    feed = t0 = None
    if a.workload == "square-etl":
        feed, t0 = gen.square_feed(tables, a.seed)
        gen.write_feed(feed, os.path.join(run_dir, "feed"))
        jvm_args += ["--feed", os.path.join(run_dir, "feed"), "--warehouse", os.path.join(run_dir, "warehouse"),
                     "--t0-ms", str(int(t0.timestamp() * 1000))]
    timeline = {"inputs_ready": time.time()}
    rc = run_jvm(cp, run_dir, jvm_args, deadline - 15.0)
    timeline["jvm_exit"] = time.time()
    try:
        with open(os.path.join(run_dir, "record.json")) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        rec = {"error": f"no record (jvm exit {rc})", "ops": [], "passes": []}

    # ---- output checks (outside the timed passes) ----
    wrong, checked = set(), {}
    if "error" in rec:
        wrong |= set(ops)
    if a.workload == "square-etl":
        if rec.get("cold_failed"):
            wrong.add("hourly")
        try:
            checked = checks.square_check(os.path.join(run_dir, "warehouse"), feed, t0, rec.get("hourly_runs", 0))
        except Exception as e:  # a missing or unreadable table is a failed check
            checked = {"warehouse": f"unreadable: {e}"}
        if any(v != "PASS" for v in checked.values()):
            wrong.add("hourly")
    else:
        log = os.path.join(run_dir, "check.log")
        run_group([sys.executable, os.path.join(root, "tools", "check.py"), data, os.path.join(run_dir, "dump")],
                  root, deadline - time.time(), log)
        with open(log) as f:
            checked = checks.oracle_check(f.read())
        for o in ops:
            if o in rec.get("cold_failed", {}) or checked.get(o) not in ("PASS", "NO_ORACLE"):
                wrong.add(o)

    timeline["checked"] = time.time()
    for k in ("session_ready_ms", "measure_start_ms", "measure_end_ms"):
        if rec.get(k):
            timeline[k[:-3]] = rec[k] / 1000.0
    timeline = {k: round(v - setup_start, 3) for k, v in sorted(timeline.items(), key=lambda kv: kv[1])}
    if a.trace:
        values, attempted, failed, extra = metrics.per_layer(rec, wrong)
        units = metrics.PER_LAYER
    else:
        values, attempted, failed, extra = metrics.end_to_end(rec, setup_start, wrong)
        units = metrics.END_TO_END
    full = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "sf": a.sf,
        "cores": cores(), "scratch": "cold: an empty scratch root per run; measured passes warm",
        "passes": len(rec.get("passes", [])), "pass_ops": ops, "hourly_runs": rec.get("hourly_runs"),
        "t0": t0.isoformat() if t0 else None, "jvm_exit": rc, "timeline_s": timeline, "error": rec.get("error"),
        "cold_failed": rec.get("cold_failed", {}), "checks": checked, "wrong": sorted(wrong),
        "failed_ops": sorted({o["name"] for o in rec.get("ops", []) if o["status"] != "ok"}),
        "failed_ops_frac": failed / attempted, **extra,
        "metrics": values, "raw": {k: rec.get(k) for k in ("ops", "passes", "layers", "cold_s")},
    }
    os.makedirs(os.path.join(build_dir, "records"), exist_ok=True)
    with open(os.path.join(build_dir, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(full, f, indent=1)
    correct = not wrong and "error" not in rec and failed == 0
    if correct:  # a failed run's directory stays for inspection until the next run
        shutil.rmtree(run_dir, ignore_errors=True)
    summary = {k: v for k, v in full.items() if k != "raw"}
    print("record: " + json.dumps(summary, sort_keys=True))
    print(json.dumps(metrics.result_line(values, units, correct, attempted, failed)))


if __name__ == "__main__":
    main()
