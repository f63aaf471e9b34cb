#!/usr/bin/env python3
"""graft benchmark: one closed-loop caller, one fresh JVM per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and the
benchmark driver from source (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed
under .bench_build/, and the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The exit code is non-zero
when the build fails or any output fails its check.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

# name -> (driver kind, input scale); scale 1 is sf0.1's row counts
WORKLOADS = {
    "export": ("export", 1.0),
    "graph": ("graph", 0.1),
}

JVM_FLAGS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-XX:+UnlockDiagnosticVMOptions",
    "-XX:GCLockerRetryAllocationCount=64",
]
SPARK_JARS = "/opt/spark/jars"


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, names in os.walk(t):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(classes, tmp, main_class):
    return ["java", "-Xmx4g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] + JVM_FLAGS + [
        "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"), main_class]


def oracle_reference(classes, out, stamp, data, ref_dir, tmp):
    """Each graph operator's expected rows, from the program's own DuckDB
    oracle SQL over the generated input; cached per build and seed."""
    if os.path.isdir(ref_dir):
        return
    sql_dir = os.path.join(out, "oracle", stamp[:16])
    if not os.path.isdir(sql_dir):
        subprocess.run(java_cmd(classes, tmp, "graft.perfbench.OracleSql") + [sql_dir + ".tmp"],
                       check=True, stdout=sys.stderr, stdin=subprocess.DEVNULL, timeout=120)
        os.rename(sql_dir + ".tmp", sql_dir)
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=%d" % len(os.sched_getaffinity(0)))
    con.execute("SET temp_directory='%s'" % tmp)
    for t in gen.TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, os.path.join(data, t + ".parquet")))
    part = ref_dir + ".tmp"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    for name in sorted(os.listdir(sql_dir)):
        op = name[:-len(".sql")]
        with open(os.path.join(sql_dir, name)) as fh:
            sql = fh.read()
        con.execute("COPY (%s) TO '%s' (FORMAT PARQUET)" % (sql, os.path.join(part, op + ".parquet")))
    con.close()
    os.rename(part, ref_dir)


def build(root, out):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(out, "build.stamp")
    stamp = source_stamp(root)
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    # sbt and every JVM it starts keep their temporary files in the checkout
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp, JAVA_TOOL_OPTIONS=" ".join(
        ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp]))
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the benchmark driver")
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                       timeout=800)
    if r.returncode != 0:
        log("build failed")
        sys.exit(r.returncode or 1)
    log("built in %.1f s" % (time.time() - t))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, stamp


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        log("no graft sources under %s/src/main/scala" % root)
        sys.exit(2)
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classes, stamp = build(root, out)
    kind, scale = WORKLOADS[a.workload]
    cores = len(os.sched_getaffinity(0))

    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    data = os.path.join(work, "data")

    t0 = time.time()
    rows = gen.generate(data, a.seed, scale)
    gen_s = time.time() - t0
    ref = os.path.join(out, "ref", stamp[:16], "%s-%d" % (a.workload, a.seed))
    if kind == "graph":
        oracle_reference(classes, out, stamp, data, ref, tmp)

    # set-up time is input generation plus the driver's own set-up; the
    # oracle reference above is left out of it
    setup_start_ms = int((time.time() - gen_s) * 1000)
    cmd = java_cmd(classes, tmp, "graft.perfbench.Main") + [
        "--kind", kind, "--data", data, "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
        "--rows", ",".join("%s=%d" % kv for kv in sorted(rows.items())),
        "--setup-start-ms", str(setup_start_ms), "--ref", ref]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                       stdin=subprocess.DEVNULL, timeout=170)
    shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(line)
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        log("driver exited with %d" % r.returncode)
        sys.exit(r.returncode or 1)
    print(lines[-1], flush=True)
    if '"correct": true' not in lines[-1]:
        sys.exit(3)


if __name__ == "__main__":
    main()
