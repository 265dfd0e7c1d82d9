#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 4 --trace 0

Builds the engine and the benchmark program (perfbench/build.sbt) on first
use, then starts one local[4] JVM per run with a fresh, empty tmpdir,
warehouse and Spark local dir, so every run pays a cold index cache. The
curation batch reads the table set that tables.py writes once into
perfbench/.work/tables; its outputs are checked here against each query's
DuckDB oracle. Prints a provenance line, then, as the last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1). The full
result and, for traced runs, the spans are kept under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
TARGET = os.path.join(HERE, "target")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
WORKLOADS = ("serve", "ingest_refresh")
# the first run in a checkout builds, trains and measures within 900 s
BUILD_TIMEOUT_S = 500
RUN_TIMEOUT_S = 170
# What Spark needs opened on JDK 17 when started outside spark-submit.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state, jar the class directories
    and train the class-data archive; later runs reuse the exported
    runtime classpath and the archive."""
    stamp = source_stamp()
    cache = os.path.join(TARGET, "bench-classpath.txt")
    if os.path.isfile(cache) and os.path.isfile(ARCHIVE):
        with open(cache) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        out = subprocess.run(cmd, cwd=HERE, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    cp = [l for l in out.stdout.splitlines()
          if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not cp:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = jar_classpath(cp[-1])
    train(cp)
    with open(cache, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def jar_classpath(cp):
    """The classpath with each class directory replaced by a jar of it:
    the JVM archives classes from jars only."""
    jars = os.path.join(TARGET, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, dirs, files in os.walk(entry):
                    dirs.sort()
                    for f in sorted(files):
                        z.write(os.path.join(d, f),
                                os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        entries.append(entry)
    return os.pathsep.join(entries)


def train(cp):
    """One untimed ingest_refresh run that records every class it loads
    in a class-data archive. Measured runs map the archive at start-up
    instead of loading and verifying each class again, which took about
    a fifth of a run's wall time on a 4-core box."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    run_dir = new_run_dir()
    try:
        code = java(cp, run_dir, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                    ["--workload", "ingest_refresh", "--seed", "0",
                     "--seconds", "1", "--trace", "0"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.isfile(ARCHIVE):
        fail(f"class-data training run exited with code {code}")


def table_set():
    """The curation batch's tables, written once per checkout: tables.py
    writes the same bytes on every call."""
    out = os.path.join(WORK, "tables")
    stamp = os.path.join(out, "stamp")
    with open(os.path.join(HERE, "tables.py"), "rb") as f:
        want = hashlib.sha256(f.read()).hexdigest()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return out
    import tables

    shutil.rmtree(out, ignore_errors=True)
    tables.generate(out)
    with open(stamp, "w") as f:
        f.write(want)
    return out


def new_run_dir():
    """A fresh, empty directory for one JVM: its tmpdir (and so every
    graft-* cache root), warehouse and Spark local dir."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    return run_dir


def java(cp, run_dir, flags, args):
    """Run the benchmark program in `run_dir`; returns its exit code."""
    # two JIT compiler threads: on four cores the default count competes
    # with the four task threads and makes short runs swing widely
    cmd = (["java", *ADD_OPENS, "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:CICompilerCount=2", *flags,
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-cp", cp,
            "perfbench.Main", *args, "--work", run_dir,
            "--out", os.path.join(run_dir, "result.json"),
            "--spans", os.path.join(run_dir, "spans.json"),
            "--tables", table_set()])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("run timed out")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def run_jvm(cp, args, run_dir):
    out = os.path.join(run_dir, "result.json")
    code = java(cp, run_dir, [f"-XX:SharedArchiveFile={ARCHIVE}"],
                ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)])
    if code != 0 or not os.path.isfile(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with code {code}")
    with open(out) as f:
        result = json.load(f)
    check_batch(result, table_set(), os.path.join(run_dir, "batch"))
    return result, os.path.join(run_dir, "spans.json")


def check_batch(result, table_dir, out_dir):
    """Compare every curation-batch output with its oracle SQL run by
    DuckDB on the same tables: the same columns and the same rows as a
    multiset, with exact values. Each query counts as one check of the
    run; an empty oracle result fails too. The tables never change within
    a checkout, so each oracle result is kept beside them, keyed by its
    SQL text."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(x for x in os.listdir(table_dir) if x.endswith(".parquet")):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM '{os.path.join(table_dir, f)}'")
    for q, sql in sorted(result["batch_oracles"].items()):
        result["attempted"] += 1
        cur = con.cursor()  # its own transaction: one failure spoils no other
        got = f"read_parquet('{os.path.join(out_dir, q)}/*.parquet')"
        want = os.path.join(table_dir, hashlib.sha256(sql.encode()).hexdigest()
                            + ".oracle")
        try:
            if not os.path.isfile(want):
                cur.execute(f"COPY ({sql}) TO '{want}.tmp' (FORMAT parquet)")
                os.replace(want + ".tmp", want)
            want = f"read_parquet('{want}')"
            cols = sorted(cur.sql(f"FROM {got}").columns)
            want_cols = sorted(cur.sql(f"FROM {want}").columns)
            if cols != want_cols:
                why = f"columns {cols} vs {want_cols}"
            else:
                sel = ", ".join(f'"{c}"' for c in cols)
                n_got, n_want, n_diff = cur.execute(f"""
                    WITH g AS (SELECT {sel} FROM {got}),
                         w AS (SELECT {sel} FROM {want})
                    SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM w),
                      (SELECT count(*) FROM (FROM g EXCEPT ALL FROM w)) +
                      (SELECT count(*) FROM (FROM w EXCEPT ALL FROM g))""").fetchone()
                why = (f"{n_got} rows vs {n_want} from the oracle, "
                       f"{n_diff} differ") if n_diff or not n_want else ""
        except duckdb.Error as e:  # a missing output or a failing oracle
            why = f"{type(e).__name__}: {e}"
        if why:
            result["failed"] += 1
            result["errors"].append(f"batch {q}: {why}")


def report_overhead(traced, args):
    """Tracing overhead: the traced run's end-to-end metrics minus those
    of an untraced run of the same workload and seed, when one was kept."""
    path = os.path.join(WORK, f"result-{args.workload}-seed{args.seed}-trace0.json")
    if not os.path.isfile(path):
        print("# trace overhead: no untraced run of this workload and seed to compare with")
        return
    with open(path) as f:
        plain = json.load(f)["end_to_end"]
    diff = {k: traced["end_to_end"][k] - v for k, v in sorted(plain.items())}
    print("# trace overhead (traced - untraced): " + json.dumps(diff))


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to perfbench/: run from a full checkout")
    if not os.path.isfile(SPEC):
        fail("no BENCHMARK.json at the root of the checkout")
    with open(SPEC) as f:
        spec = json.load(f)

    cp = build()
    run_dir = new_run_dir()
    try:
        result, spans = run_jvm(cp, args, run_dir)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        shutil.copy(os.path.join(run_dir, "result.json"),
                    os.path.join(WORK, f"result-{tag}.json"))
        if args.trace:
            shutil.copy(spans, os.path.join(WORK, f"spans-{tag}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    kind = "per_layer" if args.trace else "end_to_end"
    values = result[kind]
    wanted = spec[kind]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"result lacks metrics: {', '.join(missing)}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    failed = int(result["failed"])
    print("# provenance " + json.dumps(result["provenance"], sort_keys=True))
    if args.trace:
        report_overhead(result, args)
    for e in result["errors"]:
        print(f"# check failed: {e}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0,
                      "attempted": int(result["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
