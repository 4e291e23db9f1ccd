#!/usr/bin/env python3
"""End-to-end benchmark of the engine's PHI ingest and materialized queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_api --seed 1 --seconds 10 --trace 0

Workloads: ingest_api, ingest_bulk, query_mix (see perfbench/WORKLOADS.md).
The first run builds the engine and the benchmark program from source with
sbt; later runs reuse the build while the sources are unchanged. Every
file the benchmark writes is under `.perfbench/` in the checkout.

Output: one report line with every metric the workload defines, by name
and unit, then, as the last line, the result object
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end metrics of BENCHMARK.json; with `--trace 1`
they are its per-layer metrics, taken from a traced run that also writes
a JSON-lines span artifact under `.perfbench/traces/`. Per-layer metrics of
a layer the workload does not run are reported as 0. The tracing overhead
(`trace.overhead_ratio`) compares the traced run's iteration time with the
median of the last five untraced runs of the workload on the same sources;
a traced run makes one untraced run first when there is none.

Steadiness mode runs a workload once per seed and reports each metric's
median and quartiles (the evidence for the bounds in BENCHMARK.json):

    python3 perfbench/run.py --workload query_mix --steady 10 --seconds 10
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
CACHE = ROOT / ".perfbench"
WORKLOADS = ("ingest_api", "ingest_bulk", "query_mix")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine and benchmark; returns the launcher description."""
    out = CACHE / "build"
    out.mkdir(parents=True, exist_ok=True)
    stamp, launcher = out / "stamp", BENCH / "target" / "launcher.json"
    current = source_stamp()
    if launcher.is_file() and stamp.is_file() and stamp.read_text() == current:
        return json.loads(launcher.read_text())
    log = out / "sbt.log"
    with open(log, "w") as f:
        try:
            code = run_bounded(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false", "writeLauncher"],
                BUILD_TIMEOUT_S, cwd=BENCH, stdout=f, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    if code != 0 or not launcher.is_file():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed; see {log}")
    stamp.write_text(current)
    return json.loads(launcher.read_text())


def run_jvm(launcher, a):
    """One workload run in a fresh JVM; returns its result object."""
    t0_ms = int(time.time() * 1000)
    work = CACHE / "runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *launcher["java_options"], f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", os.pathsep.join(launcher["classpath"]), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work), "--cache", str(CACHE), "--t0-ms", str(t0_ms)]
    if a.record_expected:
        cmd += ["--record-expected"]
    log = CACHE / "runs" / f"{a.workload}-{os.getpid()}.log"
    try:
        with open(log, "w") as f:
            try:
                code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=f,
                                   stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL)
            except subprocess.TimeoutExpired:
                fail(f"run timed out; see {log}")
        result_file = work / "result.json"
        if code != 0 or not result_file.is_file():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"run failed (exit {code}); see {log}")
        if a.record_expected:
            shutil.copy(work / "query_mix.expected.json",
                        CACHE / "query_mix.expected.json")
        res = json.loads(result_file.read_text())
        log.unlink()
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record_untraced(workload, res):
    """Remember an untraced run's iteration time, for tracing overhead."""
    with open(CACHE / "history.jsonl", "a") as f:
        f.write(json.dumps({"workload": workload, "source": source_stamp(),
                            "iteration_p50_s":
                            res["end_to_end"]["iteration_p50_s"]["value"]})
                + "\n")


def untraced_iteration_s(workload):
    """Median iteration time of the last five untraced runs of the
    workload on the current sources (the most recent, as machine load
    drifts), or None."""
    hist = CACHE / "history.jsonl"
    if not hist.is_file():
        return None
    source = source_stamp()
    vals = [r["iteration_p50_s"] for r in map(json.loads, hist.open())
            if r["workload"] == workload and r.get("source") == source][-5:]
    return statistics.median(vals) if vals else None


def result_line(spec, res, trace):
    """The contract's last line: exactly the metrics BENCHMARK.json names."""
    metrics = {}
    if trace:
        got = res["per_layer"]
        for m in spec["per_layer"]:
            v = got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
            metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    else:
        got = res["end_to_end"]
        for m in spec["end_to_end"]:
            if m["name"] not in got:
                fail(f"the run did not measure {m['name']}")
            metrics[m["name"]] = {"value": got[m["name"]]["value"],
                                  "unit": m["unit"]}
    for k, v in metrics.items():
        if not isinstance(v["value"], (int, float)) or v["value"] != v["value"]:
            fail(f"metric {k} has no value: {v['value']}")
    return {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def steady(a):
    """Run the workload once per seed and summarize each metric."""
    seeds = list(range(1, a.steady + 1))
    values = {}
    for seed in seeds:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload",
               a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             text=True, check=True).stdout.strip().splitlines()
        res = json.loads(out[-1])
        if not res["correct"]:
            fail(f"seed {seed}: outputs were wrong: {out[-2]}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(json.dumps({"seed": seed, "metrics": {
            k: v["value"] for k, v in res["metrics"].items()}}), flush=True)
    summary = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 \
            else (vs[0], 0, vs[0])
        summary[k] = {"median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else float("nan"),
                      "n": len(vs)}
    print(json.dumps({"workload": a.workload, "seconds": a.seconds,
                      "trace": a.trace, "seeds": seeds,
                      "summary": summary}))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steady", type=int, default=0,
                   help="steadiness mode: run this many seeds")
    p.add_argument("--record-expected", action="store_true",
                   help="query_mix: write the observed row counts and hashes "
                        "to .perfbench/query_mix.expected.json")
    a = p.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json is missing", 2)
    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("no engine sources here: run from the root of a checkout", 2)
    if a.steady:
        return steady(a)
    spec = json.loads(spec_file.read_text())
    launcher = build()
    if a.trace and untraced_iteration_s(a.workload) is None:
        # tracing overhead is measured against untraced runs of the same
        # checkout; make one if there is none yet
        record_untraced(a.workload,
                        run_jvm(launcher, argparse.Namespace(**{**vars(a),
                                "trace": 0, "record_expected": False})))
    res = run_jvm(launcher, a)
    if a.trace:
        traced = statistics.median(res["notes"]["iterations"])
        res["per_layer"]["trace.overhead_ratio"] = {
            "value": traced / untraced_iteration_s(a.workload) - 1,
            "unit": "ratio"}
    else:
        record_untraced(a.workload, res)
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "trace": a.trace, "report": res["report"],
                      "notes": res["notes"]}))
    print(json.dumps(result_line(spec, res, a.trace)), flush=True)


if __name__ == "__main__":
    main()
