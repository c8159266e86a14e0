#!/usr/bin/env python3
"""Benchmark of the time-series store and its analytics.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/NOTES.md): serve_mix and analytics (the
workloads of BENCHMARK.json), and, on request, read_large (the read path
over a store larger than its caches; too dependent on the host's speed to
gate) and analytics_full (the 17-row registry slice, minutes per run).
`--workload all` runs each BENCHMARK.json workload untraced and then
traced, prints every metric, and reports the tracing overhead. The
workloads, metric names and units of the result line come from
BENCHMARK.json.

On first use the runner is built with sbt from perfbench/build.sbt, which
compiles the engine's sources (src/main/scala) next to the runner, into
.bench_build/. Each run then starts one JVM (`local[nproc]`), which prints
its metrics, op counts and correctness verdict. The last line on stdout is
one JSON object with the keys correct, attempted, failed and metrics; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero, without a result line, when the runner
cannot be built or run.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

WORKLOADS = ["serve_mix", "read_large", "analytics", "analytics_full"]


def load_spec() -> dict:
    """The benchmark contract (BENCHMARK.json): metric names and units."""
    f = ROOT / "BENCHMARK.json"
    if not f.is_file():
        raise BenchError(f"{f} not found")
    return json.loads(f.read_text())


# The contract's end-to-end metrics are each workload's own metric of the
# same meaning under one name (NOTES.md has the definitions). read_large is
# not a BENCHMARK.json workload; run alone, it prints a result line of the
# same shape.
E2E_SOURCE = {
    "serve_mix": {"throughput_per_s": "ingest_samples_per_s"},
    "read_large": {"throughput_per_s": "point_reads_per_s"},
    "analytics": {"throughput_per_s": "rows_per_s"},
}
# Per-layer metrics of layers a workload's timed phase does not touch: it
# does not emit them, and they report 0. Any other contract metric a
# traced run does not emit as a number fails the run.
UNTOUCHED = {
    "serve_mix": ("tsdb.read.steady_p50_ms", "tsdb.read.rchar_per_read", "tsdb.bulk.",
                  "analytics.", "q."),
    "read_large": ("tsdb.write.", "tsdb.l0.", "tsdb.flush.", "tsdb.purge", "tsdb.compact.",
                   "tsdb.maintenance.", "tsdb.hot_bytes_end", "tsdb.read.after_mutation_p50_ms",
                   "analytics.", "q."),
    "analytics": ("tsdb.write.", "tsdb.l0.", "tsdb.flush.", "tsdb.read.", "tsdb.purge",
                  "tsdb.compact.", "tsdb.maintenance.", "tsdb.hot_bytes_end",
                  "tsdb.files_live_end"),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# a fixed heap size keeps collections from following the collector's
# heap-sizing choices
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
# a run of a BENCHMARK.json workload must end within 180 s; analytics_full
# runs only on request and takes minutes
JVM_TIMEOUT_S = {"analytics_full": 900}


class BenchError(Exception):
    pass


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((HERE / "src").rglob("*"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def spark_home() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BenchError("no Spark distribution: set SPARK_HOME")
    return home


def build() -> str:
    """Compiles the runner once per source state; returns its classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft" / "tsdb" / "TimeSeriesStore.scala").is_file():
        raise BenchError(f"engine sources not found under {ROOT / 'src'}")
    if shutil.which("sbt") is None:
        raise BenchError("sbt not found on PATH")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building the runner (sbt compile) ...")
    (BUILD / "tmp").mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(),
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={BUILD / 'tmp'} -XX:-UsePerfData")
    with open(BUILD / "build.log", "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=800).returncode
    lines = (BUILD / "build.log").read_text().splitlines()
    if rc != 0:
        raise BenchError("sbt build failed; see .bench_build/build.log:\n" + "\n".join(lines[-15:]))
    cps = [ln.strip() for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if not cps:
        raise BenchError("sbt printed no classpath; see .bench_build/build.log")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def run_jvm(cp: str, workload: str, seed: int, seconds: float, trace: int, size: str,
            plant_wrong: bool) -> dict:
    """One workload in one JVM; returns its PERFBENCH_RESULT object."""
    t0_ms = int(time.time() * 1000)
    work = BUILD / "runs" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data = work / "data"
    try:
        if workload.startswith("analytics"):
            import fixture
            fixture.generate(data, seed, size if size == "tiny" else
                             "full" if workload == "analytics_full" else "core")
        cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work / 'tmp'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in JVM_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
                "--data", str(data), "--size", size, "--plant-wrong", "1" if plant_wrong else "0",
                "--t0-ms", str(t0_ms)]
        reports = BUILD / "reports"
        reports.mkdir(parents=True, exist_ok=True)
        stem = f"{workload}-seed{seed}-trace{trace}"
        timeout = JVM_TIMEOUT_S.get(workload, 170)
        try:
            with open(reports / f"{stem}.log", "w") as err:
                proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                      stdin=subprocess.DEVNULL, text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{workload} did not finish within {timeout} s; see {stem}.log")
        found = [ln for ln in proc.stdout.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
        if proc.returncode != 0 or not found:
            tail = (reports / f"{stem}.log").read_text().splitlines()[-10:]
            raise BenchError(f"{workload} JVM exited {proc.returncode}:\n" + "\n".join(tail))
        res = json.loads(found[-1][len("PERFBENCH_RESULT "):])
        if workload.startswith("analytics"):
            bad = fixture.check_oracles(data, work / "results")
            res["wrong"] += bad
            res["correct"] = res["correct"] and not bad
        if (work / "spans.jsonl").is_file():
            shutil.copy(work / "spans.jsonl", reports / f"{stem}.spans.jsonl")
        (reports / f"{stem}.json").write_text(json.dumps(res, indent=1))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def contract_metrics(res: dict, trace: int, spec: dict) -> dict:
    """The run's metrics named in BENCHMARK.json: end-to-end with trace 0,
    per-layer with trace 1. A metric the workload must emit that is
    missing or not a number raises BenchError."""
    w, m = res["workload"], res["metrics"]
    if w not in E2E_SOURCE:
        raise BenchError(f"{w} is not a BENCHMARK.json workload")
    out = {}
    for spec_m in spec["per_layer" if trace else "end_to_end"]:
        name = spec_m["name"]
        src = name if trace else E2E_SOURCE[w].get(name, name)
        v = m.get(src, {}).get("value")
        if v is None and trace and src not in m and name.startswith(UNTOUCHED[w]):
            v = 0.0
        if not isinstance(v, (int, float)) or v != v:
            raise BenchError(f"{w}: metric {src} missing or not a number: {m.get(src)}")
        out[name] = {"value": v, "unit": spec_m["unit"]}
    return out


def print_report(res: dict) -> None:
    print(f"== {res['workload']} seed={res['seed']} trace={res['trace']} "
          f"attempted={res['attempted']} failed={res['failed']} correct={res['correct']}")
    for k, v in res["metrics"].items():
        print(f"  {k} = {v['value']} {v['unit']}")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    for w in res["wrong"]:
        print(f"  WRONG {w}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="corrupt the expected answers, to show the checks fail")
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so a running JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        spec = load_spec()
        cp = build()
        if a.workload != "all":
            res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, a.size, a.plant_wrong)
            print_report(res)
            metrics = ({k: v for k, v in res["metrics"].items() if k in ("setup_s", "error_rate")}
                       if a.workload not in E2E_SOURCE else contract_metrics(res, a.trace, spec))
            print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                              "failed": res["failed"], "metrics": metrics}))
            return 0
        out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
        for w in (x["name"] for x in spec["workloads"]):
            plain, traced = (run_jvm(cp, w, a.seed, a.seconds, t, a.size, a.plant_wrong)
                             for t in (0, 1))
            for res in (plain, traced):
                print_report(res)
                out["correct"] &= res["correct"]
                out["attempted"] += res["attempted"]
                out["failed"] += res["failed"]
            for k, v in contract_metrics(plain, 0, spec).items():
                out["metrics"][f"{w}.{k}"] = v
                tv = contract_metrics(traced, 0, spec)[k]["value"]
                change = f" ({(tv / v['value'] - 1) * 100:+.1f}%)" if v["value"] else ""
                print(f"  tracing overhead {w}.{k}: {tv} vs {v['value']} {v['unit']}{change}")
        print(json.dumps(out))
        return 0
    except BenchError as e:
        log(f"error: {e}")
        return 1


if __name__ == "__main__":
    sys.exit(main())
