#!/usr/bin/env python3
"""graft pipeline benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 20 --trace 0

Builds graft's sources together with the harness in perfbench/src (scalac
from the Spark distribution, no sbt), runs one workload in one JVM on
local[nproc], prints every metric with its unit, and prints as the last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 the per_layer metrics; a traced run also writes a trace
file (spans with self times, per-layer metrics, tracing overhead).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
JVM_TIMEOUT_S = 170
HEAP = "2g"
TRACE_SCHEMA = "graftbench.trace/1"

# Spark 4 on JDK 17 needs these outside spark-submit (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else ""
    jars = Path(home) / "jars" if home else None
    if not jars or not glob.glob(str(jars / "scala-compiler-*.jar")):
        raise BenchError("no Spark distribution with a Scala compiler: set SPARK_HOME")
    return jars


def sources():
    graft = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not graft:
        raise BenchError(f"no graft sources under {ROOT / 'src/main/scala'}")
    return graft + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Compile graft + harness once per source state; returns the class dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    classes = build_dir() / "classes" / h.hexdigest()[:16]
    if (classes / ".built").exists():
        return classes
    jars = spark_jars()
    tmp = classes.with_name(classes.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*", f"@{argfile}"]
    print(f"building {len(srcs)} sources ...", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BenchError("compilation failed")
    (tmp / ".built").write_text("ok\n")
    for old in (build_dir() / "classes").iterdir():
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    return classes


def metric_specs(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def validate_result_line(obj, specs):
    """The benchmark's output line: exactly correct/attempted/failed/metrics,
    with every named metric as a finite number in its unit."""
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise BenchError(f"result keys {sorted(obj)}")
    if not isinstance(obj["correct"], bool):
        raise BenchError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(obj[k], int) or isinstance(obj[k], bool) or obj[k] < 0:
            raise BenchError(f"{k} must be a whole number")
    if obj["attempted"] < 1:
        raise BenchError("attempted must be at least 1")
    want = {m["name"]: m["unit"] for m in specs}
    if set(obj["metrics"]) != set(want):
        raise BenchError(f"metrics {sorted(obj['metrics'])} != {sorted(want)}")
    for name, m in obj["metrics"].items():
        v = m.get("value")
        if set(m) != {"value", "unit"} or m["unit"] != want[name]:
            raise BenchError(f"metric {name}: {m}")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise BenchError(f"metric {name} is not a finite number: {v}")


def validate_trace(obj):
    """The trace file: spans (id, name, parent, run, start/end, self time,
    counters) whose parents exist, plus the per-layer metrics."""
    for k in ("schema", "workload", "seed", "per_layer", "end_to_end", "spans"):
        if k not in obj:
            raise BenchError(f"trace lacks {k}")
    if obj["schema"] != TRACE_SCHEMA:
        raise BenchError(f"trace schema {obj['schema']}")
    ids = {s["id"] for s in obj["spans"]}
    for s in obj["spans"]:
        for k in ("id", "name", "parent", "run", "start_ms", "end_ms", "dur_s", "self_s", "counters"):
            if k not in s:
                raise BenchError(f"span lacks {k}: {s}")
        if s["parent"] is not None and s["parent"] not in ids:
            raise BenchError(f"span {s['id']} has unknown parent {s['parent']}")
        if not s["end_ms"] >= s["start_ms"] or not -1e-6 <= s["self_s"] <= s["dur_s"] + 1e-6:
            raise BenchError(f"span {s['id']} times are inconsistent")
    for name, v in obj["per_layer"].items():
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            raise BenchError(f"per-layer {name} is not a finite number")


def run_jvm(classes, args):
    work = build_dir() / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{spark_jars()}/*", "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--work", str(work), "--out", str(out),
              "--launch-ms", repr(time.time() * 1000)])
    log = work / "jvm.log"
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                               text=True, timeout=JVM_TIMEOUT_S)
        sys.stdout.write(r.stdout)
        if r.returncode != 0 or not out.exists():
            sys.stderr.write(log.read_text()[-6000:])
            raise BenchError(f"workload JVM exited with {r.returncode}")
        return json.loads(out.read_text())
    except subprocess.TimeoutExpired:
        raise BenchError(f"workload JVM exceeded {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["etl_sync", "stream_ingest", "corpus_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    try:
        specs = metric_specs(args.trace)
        res = run_jvm(build(), args)
        # a layer the workload does not run did no work: its metrics read 0
        values = ({m["name"]: 0.0 for m in specs} | res["per_layer"] if args.trace
                  else res["end_to_end"])
        missing = [m["name"] for m in specs if m["name"] not in values]
        if missing:
            raise BenchError(f"workload reported no {missing}")
        units = {m["name"]: m["unit"] for m in metric_specs(0) + metric_specs(1)}
        units |= {"latency_p50_ms": "ms", "latency_p99_ms": "ms"}  # printed, unbounded
        for name, v in list(res["end_to_end"].items()) + list(res["per_layer"].items()):
            print(f"{args.workload:14s} {name:40s} {v!r:>24} {units[name]}")
        for row in res["table"]:
            print(f"{args.workload:14s} {row['name']:40s} {row['value']!r:>24} {row['unit']}")
        if args.trace:
            trace = {"schema": TRACE_SCHEMA, "workload": args.workload, "seed": args.seed,
                     "end_to_end": res["end_to_end"], "per_layer": res["per_layer"],
                     "table": res["table"], "spans": res["spans"]}
            validate_trace(trace)
            path = build_dir() / "traces" / f"{args.workload}-seed{args.seed}.json"
            path.parent.mkdir(parents=True, exist_ok=True)
            path.write_text(json.dumps(trace, indent=1))
            print(f"trace: {path}")
        line = {"correct": res["failed"] == 0, "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                            for m in specs}}
        validate_result_line(line, specs)
    except BenchError as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
