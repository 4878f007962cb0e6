#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client (one op in flight) on
local[k], k = the machine's processor count.

    python3 perfbench/run.py --workload jsonl-scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It compiles the program (src/main) and
the benchmark's JVM side (perfbench/jvm) into .bench_build/classes with the
Scala compiler that ships with Spark and javac, generates the workload's
inputs from the seed under .bench_build/runs/, runs the ops, checks every
result against an independent reference, and prints one JSON line last:
the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1. Traced runs also leave their spans in .bench_build/traces/.
BENCHMARK.json describes the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import benchlib  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
# Spark's own jars, compilers included: $SPARK_HOME, else the installation
# whose spark-submit is on the PATH
SPARK_HOME = Path(os.environ.get("SPARK_HOME") or
                  Path(shutil.which("spark-submit") or "spark-submit").resolve().parent.parent)
HEAP = "3g"
RUN_TIMEOUT_S = 150  # the JVM side; a whole run must end within 180 s
WORKLOADS = ("jsonl-scan", "sf-queries", "ingest-maintain")
# op_tail_ms percentile per workload: at the fixed op count of an 8 s run
# it leaves at least ten ops above it and sits inside one op kind's cluster
# (perfbench/README.md)
TAIL_PCT = {"jsonl-scan": 60, "sf-queries": 61, "ingest-maintain": 60}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scalac(sources, out, classpath):
    """Compile Scala (and Java) sources into `out` with the Scala compiler
    in Spark's jars."""
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath,
                        "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn", "-usejavacp",
                        "-d", str(out)] + [str(p) for p in sources],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")


def build():
    """Compile the program and the benchmark unless the sources are
    unchanged since the last build. Returns the classes directory."""
    scala = sorted(p for p in (ROOT / "src/main/scala").rglob("*.scala")
                   if "testkit" not in p.parts)  # test-kit only; needs scalacheck
    java = sorted((ROOT / "src/main/java").rglob("*.java"))
    resources = sorted(p for p in (ROOT / "src/main/resources").rglob("*") if p.is_file())
    bench = sorted((HERE / "jvm").glob("*.scala"))
    if not scala or not bench:
        fail("no program sources under src/main/scala; run from the root of a checkout")
    jars = SPARK_HOME / "jars"
    if not list(jars.glob("spark-core_*.jar")):
        fail(f"no Spark jars under {jars}")
    h = hashlib.sha256()
    for p in scala + java + resources + bench:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = h.hexdigest()
    out = BUILD / "classes"
    if (out / ".stamp").exists() and (out / ".stamp").read_text() == stamp:
        return out
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    scalac(scala + java + bench, tmp, cp)
    if java:
        r = subprocess.run(["javac", "-J-XX:-UsePerfData", "-encoding", "UTF-8", "-nowarn",
                            "-d", str(tmp), "-cp", f"{tmp}:{cp}"] + [str(p) for p in java],
                           capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            fail("build failed")
    for p in resources:
        dst = tmp / p.relative_to(ROOT / "src/main/resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def write_oracle(classes, data, break_reference):
    """Run each sf-queries op's reference SQL in DuckDB over the generated
    tables and write its result to <data>/oracle/<op>.parquet, where the JVM
    side reads and digests it."""
    import duckdb
    sql_file = data / "oracle_sql.json"
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", f"{classes}:{SPARK_HOME / 'jars'}/*",
                        "perfbench.Main", "--oracle-sql", str(sql_file)],
                       capture_output=True, text=True, timeout=60)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("could not list the reference SQL")
    (data / "oracle").mkdir()
    con = duckdb.connect()
    con.execute(f"SET threads = {os.cpu_count()}")
    con.execute(f"SET temp_directory = '{data / 'duckdb_tmp'}'")
    for p in sorted(data.glob("*.parquet")):
        src = f"SELECT * FROM read_parquet('{p}')"
        if break_reference and p.stem == "orders":
            src = (f"SELECT * REPLACE (CASE WHEN o_orderkey = 0 THEN o_totalprice + 1 "
                   f"ELSE o_totalprice END AS o_totalprice) FROM read_parquet('{p}')")
        con.execute(f"CREATE VIEW {p.stem} AS {src}")
    for name, sql in json.loads(sql_file.read_text()).items():
        con.execute(f"COPY ({sql}) TO '{data / 'oracle' / name}.parquet' (FORMAT PARQUET)")
    con.close()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--break-reference", action="store_true",
                    help="corrupt one reference value: every affected op must then count as failed")
    args = ap.parse_args()

    classes = build()
    run_dir = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work, result = run_dir / "data", run_dir / "work", run_dir / "result.json"
    data.mkdir(parents=True)
    proc = None
    try:
        if args.workload == "sf-queries":
            import sfgen
            sfgen.generate(args.seed, data)
            write_oracle(classes, data, args.break_reference)
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
                f"-Djava.io.tmpdir={work / 'tmp'}"] + ADD_OPENS
               + ["-cp", f"{classes}:{SPARK_HOME / 'jars'}/*", "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--data", str(data), "--work", str(work), "--out", str(result),
                  "--break-reference", "1" if args.break_reference else "0"])
        (work / "tmp").mkdir(parents=True)
        with open(run_dir / "jvm.log", "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"the run exceeded {RUN_TIMEOUT_S} s")
        if rc != 0 or not result.exists():
            sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
            fail(f"the JVM side exited with {rc}")
        res = json.loads(result.read_text())

        checked = res["ops"] + res.get("traced_ops", []) + res.get("untraced_after_ops", [])
        attempted = len(checked) + len(res["final_checks"])
        failed = sum(1 for o in checked if benchlib.op_failed(o)) + \
            sum(1 for c in res["final_checks"] if c["got"] != c["want"])
        for kind in sorted({benchlib.base_kind(o["kind"]) for o in checked if benchlib.op_failed(o)}):
            print(f"perfbench: {kind} ops failed or differ from the reference", file=sys.stderr)

        if args.trace:
            metrics, spans = benchlib.per_layer(res)
            self_ms = benchlib.self_times(spans)
            traces = BUILD / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            with open(traces / f"{args.workload}-{args.seed}.jsonl", "w") as f:
                for s in spans:
                    f.write(json.dumps(dict(s, self_ms=self_ms[s["id"]])) + "\n")
        else:
            metrics = benchlib.end_to_end(res, TAIL_PCT[args.workload])
            metrics["ok_frac"] = 1 - failed / attempted
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in names},
        }))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
