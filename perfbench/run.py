#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark harness from source into
`.bench_build/` (first run only), prepares the workload's inputs, runs the
workload in a fresh JVM on `local[nproc]`, checks its outputs and prints
every metric by name with its unit. The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json, or with `--trace 1` its
per-layer metrics. The full stamped record is kept under
`.bench_build/records/`. See perfbench/README.md.

    python3 perfbench/run.py --refresh-expected

re-derives `perfbench/expected.tsv`: it dumps every registry query's
output, checks it against the query's oracle SQL in DuckDB, and records
the hashes of the verified outputs.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
DATA = HERE / "data"
WORKLOADS = ("octadesk_daily", "registry")
# a run must end within 180 s; one that compiles first may take 900 s
DEADLINE_S, BUILD_DEADLINE_S = 170, 880
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"] + [
    a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else pyspark's."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            candidates.append(Path(spec.origin).parent / "jars")
    except ImportError:
        pass
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")):
            return c
    raise BenchError("no Spark jars found (set SPARK_HOME)")


def build():
    """Compile the program and the harness with the Scala compiler that
    ships with Spark, unless the sources are unchanged since last time."""
    program = ROOT / "src" / "main" / "scala"
    sources = sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    if not program.is_dir() or not any(program.rglob("*.scala")):
        raise BenchError(f"program sources not found under {program}")
    digest = hashlib.sha256()
    for s in sources:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    stamp = BUILD / "classes.sha256"
    if CLASSES.is_dir() and stamp.exists() and stamp.read_text() == digest.hexdigest():
        return digest.hexdigest(), False
    log(f"compiling {len(sources)} sources")
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{spark_jars()}/*"
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(s) for s in sources],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(digest.hexdigest())
    log(f"compiled in {time.time() - t0:.1f}s")
    return digest.hexdigest(), True


def java(main_args, work, timeout, main="graft.bench.Main"):
    cp = f"{CLASSES}:{spark_jars()}/*"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp, main, *main_args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=timeout, cwd=work)
    if r.returncode != 0:
        raise BenchError(f"{main} exited {r.returncode}:\n{r.stderr[-4000:]}")
    for line in r.stderr.splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    return r


def git_sha():
    if not (ROOT / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def refresh_expected():
    import oracle
    build()
    work = BUILD / "work" / "refresh"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    dump = work / "dump"
    java(["--workload", "registry", "--data", str(DATA), "--work", str(work),
          "--dump", str(dump)], work, 1800)
    problems = oracle.verify_registry(str(DATA), str(dump))
    if problems:
        raise BenchError(f"outputs differ from the DuckDB oracle: {problems}")
    shutil.copy(dump / "hashes.tsv", HERE / "expected.tsv")
    log("every registry output matches its DuckDB oracle")
    shutil.rmtree(work)


def run(args):
    t_start = time.time()
    import oracle
    source_sha, compiled = build()
    work = BUILD / "work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        batches = None
        inputs = work / "inputs"
        inputs.mkdir()
        if args.workload == "octadesk_daily":
            batches = gen.generate(args.seed)
            gen.land(batches, inputs)
        out = work / "record.json"
        timeout = (BUILD_DEADLINE_S if compiled else DEADLINE_S) - (time.time() - t_start)
        java(["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--data", str(DATA), "--inputs", str(inputs),
              "--expected", str(HERE / "expected.tsv"), "--out", str(out)], work, timeout)
        record = json.loads(out.read_text())
        # the destination of every timed pass against the DuckDB oracle;
        # a wrong destination fails every batch of its pass
        if batches is not None:
            for check in sorted(work.glob("check-*.json")):
                c = json.loads(check.read_text())
                if c["pass"] < record["passes"]["warmup"]:
                    continue
                problems = oracle.check_octadesk(batches, c)
                if problems:
                    log(f"pass {c['pass']}: {'; '.join(problems)}")
                    record["failed"] = min(record["attempted"], record["failed"] + len(batches))
        record["failed_frac"] = record["failed"] / max(1, record["attempted"])
        record["stamp"].update({"git_sha": git_sha(), "source_sha256": source_sha})
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return record


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def emit(record, trace):
    wanted = spec()["per_layer" if trace else "end_to_end"]
    got = record["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif trace:
            # a layer this workload does not call
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            raise BenchError(f"metric {m['name']} missing from the record")
    records = BUILD / "records"
    records.mkdir(parents=True, exist_ok=True)
    name = f"{record['workload']}-seed{record['seed']}-trace{int(trace)}-{int(time.time())}.json"
    (records / name).write_text(json.dumps(record, indent=1))
    print(f"# {record['workload']} seed={record['seed']} nproc={record['stamp']['nproc']} "
          f"passes={record['passes']} ops={record['ops']} "
          f"failed_frac={record['failed_frac']:.4f} record={records / name}")
    for pr in record["probes"]:
        print(f"# known defect probe: {pr['metric']} = {pr['value']:g}: {pr['name']}: "
              f"{pr['outcome']}")
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": record["failed"] == 0, "attempted": record["attempted"],
                      "failed": record["failed"], "metrics": metrics}))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--refresh-expected", action="store_true")
    args = p.parse_args()
    try:
        if args.refresh_expected:
            refresh_expected()
            return 0
        if not args.workload:
            p.error("--workload is required")
        if args.seconds is None:
            args.seconds = spec()["run_seconds"]
        emit(run(args), args.trace == 1)
        return 0
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
