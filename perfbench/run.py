#!/usr/bin/env python3
"""graft's benchmark: one named query-mix workload at sf0.1, timed end to
end, every result checked against the DuckDB oracle.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. It compiles graft's sources and the
harness in perfbench/src (once per source tree, into .bench_build/), runs
the workload in one JVM on local[nproc] with the session graft.Bench
declares, checks each query's last result with tools/compare.py's rules,
and prints one JSON object as the last line of stdout. Progress goes to
stderr. Run outputs land in .bench_work/<workload>-trace<0|1>/.

--trace 0 reports the end-to-end metrics. --trace 1 runs the timed loop
three times in one session, with Spark listeners recording spans in the
middle one, and reports the per-layer metrics (layers.py) and the tracing
overhead; it also writes spans.jsonl and one JSONL record per traced
query execution, records.jsonl, to the run directory.

The query lists, the metric definitions and the layer -> end-to-end ->
workload mapping are in perfbench/spec.json.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
SPEC = json.loads((HERE / "spec.json").read_text())
# The metric names and units the benchmark contract declares.
CONTRACT = json.loads((HERE.parent / "BENCHMARK.json").read_text())
RUN_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the list build.sbt forks with).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_of(pattern, path):
    """A setting the project already declares, read where it is declared."""
    if not path.is_file():
        fail(f"{path.relative_to(ROOT)} not found: run from a graft checkout")
    m = re.search(pattern, path.read_text())
    if not m:
        fail(f"cannot read {pattern!r} from {path.relative_to(ROOT)}")
    return m.group(1)


def spark_jars():
    return Path(source_of(r'unmanagedBase := file\("([^"]+)"\)', ROOT / "build.sbt"))


def fixture_dir():
    default = source_of(r'"SPARK_GRAFT_SF_DIR", "([^"]+)"',
                        ROOT / "src/main/scala/graft/Bench.scala")
    d = Path(os.environ.get("SPARK_GRAFT_SF_DIR", default))
    if not (d / "lineitem.parquet").is_file():
        fail(f"fixture directory {d} has no lineitem.parquet")
    return d


def build(jars):
    """Compile graft's main sources and the harness with the Scala compiler
    shipped among the Spark jars; skipped when the sources are unchanged."""
    sources = sorted((ROOT / "src/main/scala").rglob("*.scala")) + \
        sorted((HERE / "src").rglob("*.scala"))
    if not any(p.name == "SparkEntry.scala" for p in sources):
        fail("no graft sources under src/main/scala")
    digest = hashlib.sha256()
    for p in sources:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp, classes = BUILD / "stamp", BUILD / "classes"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [next(jars.glob(f"scala-{n}-2.13.*.jar"))
                for n in ("compiler", "library", "reflect")]
    t0 = time.monotonic()
    log(f"compiling {len(sources)} sources")
    subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-cp", os.pathsep.join(map(str, compiler)),
         "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
         "-classpath", os.pathsep.join(map(str, sorted(jars.glob("*.jar"))))]
        + [str(p) for p in sources],
        check=True, stdout=sys.stderr, timeout=600)
    stamp.write_text(digest.hexdigest())
    log(f"compiled in {time.monotonic() - t0:.1f} s")
    return classes


def run_jvm(classes, jars, out, workload, args, cpus, sf):
    passes = max(1, math.floor(args.seconds / workload["pass_s"] + 0.5))
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Harness",
           f"sf={sf}", f"out={out}", "queries=" + ",".join(workload["queries"]),
           f"seed={args.seed}", f"passes={passes}", f"trace={args.trace}", f"cpus={cpus}"]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"the run did not finish within {RUN_LIMIT_S} s")
    if code != 0:
        fail(f"the harness exited with {code}")
    return json.loads((out / "run.json").read_text())


def fixture_key(sf):
    h = hashlib.sha256()
    for p in sorted(sf.glob("*.parquet")):
        st = p.stat()
        h.update(f"{p.name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def oracle_answers(sf, oracle):
    """The DuckDB oracle's answer for each query, as SQL for compare.py.

    Some oracles take tens of seconds at sf0.1, so each answer is computed
    once per oracle text and fixture and kept as parquet under
    .bench_work/oracle/. An answer is kept only when reading the parquet
    back gives the same pandas frame (dtypes and values) as the oracle
    query itself; otherwise compare.py runs the oracle SQL every time."""
    import duckdb
    cache = WORK / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    fixture = fixture_key(sf)
    con, answers = None, {}
    for name, sql in oracle.items():
        key = hashlib.sha256((fixture + sql).encode()).hexdigest()[:32]
        path, direct = cache / f"{key}.parquet", cache / f"{key}.direct"
        if not path.exists() and not direct.exists():
            if con is None:
                con = duckdb.connect(config={"threads": 4, "memory_limit": "4GB",
                                             "temp_directory": str(cache / "tmp")})
                for t in sf.glob("*.parquet"):
                    con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
            t0 = time.monotonic()
            try:
                con.execute(f"CREATE OR REPLACE TEMP TABLE answer AS {sql}")
                con.execute(f"COPY answer TO '{path}' (FORMAT parquet)")
                a = con.sql("SELECT * FROM answer").df()
                b = con.sql(f"SELECT * FROM '{path}'").df()
                same = list(a.dtypes.astype(str)) == list(b.dtypes.astype(str)) and a.equals(b)
            except Exception:  # compare.py reports an oracle that cannot run
                same = False
            if not same:
                path.unlink(missing_ok=True)
                direct.touch()
            log(f"oracle answer for {name}: {time.monotonic() - t0:.1f} s"
                + ("" if same else ", not cacheable"))
        answers[name] = f"SELECT * FROM '{path}'" if path.exists() else sql
    return answers


def oracle_check(sf, out):
    """Per-query verdicts from tools/compare.py: row count, column types
    after timestamp-unit normalization, then values. Queries without an
    oracle come back as SKIP and only have to have succeeded."""
    results = out / "results"
    oracle = json.loads((out / "oracle_source.json").read_text())
    (results / "oracle_sql.json").write_text(json.dumps(oracle_answers(sf, oracle)))
    p = subprocess.run([sys.executable, str(ROOT / "tools/compare.py"), str(sf), str(results)],
                       capture_output=True, text=True, timeout=120)
    verdicts = {}
    for line in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|SKIP) (\S+?):? ", line + " ")
        if m:
            verdicts[m.group(2)] = m.group(1)
            if m.group(1) == "FAIL":
                log(line)
    if p.returncode not in (0, 1) or not verdicts:
        log(p.stdout + p.stderr)
        fail("the oracle compare did not run")
    return verdicts


def end_to_end(run, execs, failed):
    win = run["windows"][0]
    wall = (win["end"] - win["start"]) / 1e9
    ok = [e for e in execs if e["id"] not in failed]
    if not ok:
        fail("no execution completed with a correct result")
    lat = [(e["t2"] - e["t0"]) / 1e9 for e in ok]
    return {
        "setup_s": run["setup_s"],
        "queries_per_s": len(ok) / wall,
        "query_p50_s": statistics.median(lat),
        "cpu_s_per_query": win["cpu_s"] / len(execs),
        "peak_rss_mb": run["peak_rss_mb"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workload = SPEC["workloads"][args.workload]

    jars = spark_jars()
    sf = fixture_dir()
    classes = build(jars)
    out = WORK / f"{args.workload}-trace{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    cpus = len(os.sched_getaffinity(0))
    t0 = time.monotonic()
    run = run_jvm(classes, jars, out, workload, args, cpus, sf)
    t1 = time.monotonic()
    verdicts = oracle_check(sf, out)
    log(f"harness {t1 - t0:.1f} s, oracle check {time.monotonic() - t1:.1f} s")

    window = "traced" if args.trace else "timed"
    execs = [e for e in run["execs"] if e["window"] == window]
    bad_queries = {q for q in workload["queries"] if verdicts.get(q) == "FAIL"}
    failed = {e["id"] for e in execs if e["error"] or e["query"] in bad_queries}
    correct = not failed and not bad_queries and bool(execs)
    calib = run["calib"]
    log(f"{len(execs)} executions, {len(failed)} failed (failed_frac "
        f"{len(failed) / max(1, len(execs)):.3f}); oracle: "
        + ", ".join(f"{v} {sum(1 for x in verdicts.values() if x == v)}"
                    for v in ("PASS", "FAIL", "SKIP"))
        + f"; host calibration 1t {calib['start_1t_s']:.3f}/{calib['end_1t_s']:.3f} s, "
        f"{cpus}t {calib['start_nt_s']:.3f}/{calib['end_nt_s']:.3f} s")

    if args.trace:
        import layers
        metrics, checks_ok = layers.per_layer(run, workload, cpus, out, SPEC)
        correct = correct and checks_ok
        units = {m["name"]: m["unit"] for m in CONTRACT["per_layer"]}
    else:
        metrics = end_to_end(run, execs, failed)
        units = {m["name"]: m["unit"] for m in CONTRACT["end_to_end"]}
    print(json.dumps({
        "correct": correct, "attempted": len(execs), "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(HERE))
    main()
