#!/usr/bin/env python3
"""Run one benchmark workload and print its figures.

    python3 bench/run.py --workload index_maintain --seed 1 --seconds 20 --trace 0

Builds the program from source on first use (see build.py) and records
a class-data-sharing archive for the JVM, runs the workload in one JVM,
checks the outputs (the DuckDB oracle compare for the sampled
relational queries runs here), prints every figure by name with its
unit and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json. `--trace 1` traces half the
rounds of operations and reports the per-layer metrics plus the
tracing overhead (traced minus untraced op_p50_ms).
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_BUDGET_S = 170
TRAIN_BUDGET_S = 400
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(1)


def run_jvm(classpath, args, work, timeout, flags=()):
    """Run porcbench.Main in `work`; on failure print the end of its log
    and return the exit code (or "timeout")."""
    log = os.path.join(work, "jvm.log")
    cmd = ["java", "-Xmx3g",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dgraft.scratch.dir={work}/scratch",
           "-Dspark.ui.enabled=false", *flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "porcbench.Main"] + args
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(1)

        # the JVM runs in its own session: stop it with this process
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
    return code


def class_archive(classpath):
    """JVM flags that start from this build's class-data-sharing
    archive. The first call records it: a training JVM runs the set-up
    and warm-up of every workload once and dumps the classes it loaded
    at exit. Later runs then skip most class loading and verification at
    JVM and session start. The archive lives in the harness build
    directory, so a rebuild drops it. If it cannot be recorded, runs
    start without it."""
    jsa = os.path.join(build.OUT, "harness", "classes.jsa")
    if not os.path.exists(jsa):
        work = os.path.join(build.OUT, "runs", f"train-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        tmp = f"{jsa}.{os.getpid()}"
        print("[bench] recording the class-data-sharing archive", file=sys.stderr)
        try:
            code = run_jvm(classpath, ["--train", "1", "--work", work], work,
                           TRAIN_BUDGET_S, [f"-XX:ArchiveClassesAtExit={tmp}"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if code != 0 or not os.path.exists(tmp):
            print(f"[bench] no class archive (training JVM exited with {code})",
                  file=sys.stderr)
            if os.path.exists(tmp):
                os.remove(tmp)
            return []
        os.rename(tmp, jsa)
    return [f"-XX:SharedArchiveFile={jsa}"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def signature(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("|".join(canon(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i] for i in order], rows


def oracle_failures(oracle):
    """Compare each dumped relational query output with its DuckDB oracle."""
    if not oracle.get("tables") or len(oracle) == 1:
        return []
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(oracle["tables"], f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    errs = []
    for name, q in sorted(oracle.items()):
        if name == "tables":
            continue
        files = glob.glob(os.path.join(q["out"], "*.parquet"))
        got = signature(con, f"SELECT * FROM read_parquet({files!r})")
        want = signature(con, q["sql"])
        if got != want:
            errs.append(f"query {name}: output differs from its DuckDB oracle "
                        f"({len(got[1])} vs {len(want[1])} rows)")
    con.close()
    return errs


def run_pass(classpath, flags, a, timeout):
    """One JVM run of the workload; returns its result with the oracle
    compare folded into its failures."""
    work = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        code = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--work", work, "--out", out], work, timeout, flags)
        if code != 0:
            fail(f"benchmark JVM exited with {code}")
        with open(out) as fh:
            res = json.load(fh)
        oracle_errs = oracle_failures(res["oracle"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["failures"] += oracle_errs
    res["failed"] += len(oracle_errs)
    return res


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build: {e}")

    flags = class_archive(classpath)
    res = run_pass(classpath, flags, a, RUN_BUDGET_S)
    failures, failed, attempted = res["failures"], res["failed"], res["attempted"]
    for k, v in res["properties"].items():
        print(f"property {k} = {v}")
    for k, v in res["named"].items():
        print(f"named {k} = {v}")
    print(f"check oracle_compared = {len(res['oracle']) - 1} queries")
    print(f"metric error_rate = {failed / max(attempted, 1):.6g} ratio "
          f"({failed}/{attempted})")
    for k, m in res["end_to_end"].items():
        print(f"metric {k} = {fmt(m['value'])} {m['unit']}")
    for line in res["notes"]:
        print(line)
    for f in failures:
        print(f"FAILED {f}")
    hygiene = res["hygiene"]
    for h in hygiene:
        print(f"HYGIENE {h}")

    section = "end_to_end" if a.trace == 0 else "per_layer"
    metrics = {}
    for m in spec[section]:
        name = m["name"]
        if name == "error_rate":
            v = failed / max(attempted, 1)
        else:
            v = res[section].get(name, {}).get("value")
        if v is None:
            if a.trace == 0:
                fail(f"workload reported no {name}")
            print(f"layer {name} = n/a on {a.workload} (reported as 0)")
            v = 0.0
        elif a.trace == 1:
            print(f"layer {name} = {fmt(v)} {m['unit']}")
        metrics[name] = {"value": v, "unit": m["unit"]}
    correct = failed == 0 and not failures and not hygiene
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
