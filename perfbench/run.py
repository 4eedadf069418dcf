#!/usr/bin/env python3
"""Benchmark for the crawl engine and curation pipeline.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run compiles the program
(src/main/scala) and the benchmark's JVM half (perfbench/src) with the Scala
compiler shipped in the Spark distribution, into perfbench/out/. Each run
then starts one JVM (local[nproc] Spark), sets the workload up, warms it up,
and runs passes in a closed loop for --seconds. --trace 1 makes a separate
traced run whose per-layer metrics and spans replace the end-to-end ones.

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}.
The exit code is 0 only when every output check passed. See README.md.
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

WORKLOADS = ["crawl_extract", "crawl_polite", "crawl_frontier", "curate_iterative"]
XMX = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
PREFIX = "pb-"  # work dirs of this benchmark: perfbench/out/work/pb-<pid>-<workload>

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """jars/ of the Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler found (SPARK_HOME={home})")
    return jars


def java_base(tmp):
    return ["java", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        fail("src/main/scala is missing: run from the root of a full checkout")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build(jars):
    """Compile the program and the JVM half once per source digest."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + sorted(jars.glob("scala-*.jar")):
        h.update(str(f.relative_to(ROOT) if f.is_relative_to(ROOT) else f.name).encode())
        if f.suffix == ".scala":
            h.update(f.read_bytes())
    classes_root = OUT / "classes"
    target = classes_root / h.hexdigest()[:16]
    if (target / ".ok").exists():
        return target
    classes_root.mkdir(parents=True, exist_ok=True)
    for old in classes_root.iterdir():
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes_root / f"tmp-{os.getpid()}"
    tmp.mkdir()
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs))
    t0 = time.time()
    cmd = java_base(tmp) + ["-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
                            "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    argfile.unlink()
    (tmp / ".ok").write_text(f"{len(srcs)} sources compiled in {time.time() - t0:.1f} s\n")
    tmp.rename(target)
    return target


def pid_alive(pid):
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def reap_leftovers(work_root):
    """Remove work dirs that a killed run of this benchmark left behind."""
    removed = []
    if work_root.is_dir():
        for d in work_root.iterdir():
            if d.name.startswith(PREFIX):
                pid = d.name[len(PREFIX):].split("-", 1)[0]
                if not pid.isdigit() or not pid_alive(int(pid)):
                    shutil.rmtree(d, ignore_errors=True)
                    removed.append(d.name)
    return removed


def free_bytes(path):
    try:
        return shutil.disk_usage(path).free
    except OSError:
        return None


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(workload, seed, seconds, trace, classes, jars):
    work = OUT / "work" / f"{PREFIX}{os.getpid()}-{workload}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    raw_file = work / "raw.json"
    log_file = work / "jvm.log"
    cmd = java_base(tmp) + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Dspark.ui.enabled=false", "-cp", f"{classes}:{jars}/*", "perfbench.Main",
        workload, str(seed), str(seconds), "1" if trace else "0", str(raw_file), str(work),
        str(int(time.time() * 1000))]
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if proc.returncode != 0 or not raw_file.exists():
            sys.stderr.write(log_file.read_text()[-6000:])
            return None, f"JVM exited with {proc.returncode}"
        return json.loads(raw_file.read_text()), None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record_of(raw, seed, trace, classes, leftovers, free_before):
    return {
        "workload": raw["workload"], "seed": seed, "trace": trace,
        "nproc": raw["nproc"], "driver_xmx": XMX, "xmx_mb": raw["xmx_mb"],
        "java": f'{raw["java_vm"]} {raw["java_version"]}', "spark": raw["spark_version"],
        "scala": raw["scala_version"], "git_commit": git_commit(), "build": classes.name,
        "inputs": raw["inputs"], "session_conf": raw["session_conf"],
        "warmup": raw["setup"].get("warmup", False),
        "passes": [{k: p[k] for k in ("phase", "traced", "wall_s", "ok")} for p in raw["passes"]],
        "peak_rss_mb": raw["peak_rss_mb"],
        "checksums": sorted({p["checksum"] for p in raw["passes"] if p["ok"]}),
        "leftovers_removed": leftovers, "free_bytes_before": free_before,
    }


def write_trace(raw, path):
    spans, jobs = raw["spans"], raw["jobs"]
    parents = metrics.assign_parents(spans, jobs)
    job_spans = [{
        "id": f'job{j["job"]}', "name": f'spark job {j["job"]}', "kind": "spark-job",
        "parent": parents[j["job"]], "start_ms": j["start_ms"], "end_ms": j["end_ms"],
        "run": spans[0]["run"] if spans else None,
        "attrs": {k: j[k] for k in ("stages", "tasks", "run_ms", "gc_ms", "shuffle_write",
                                    "shuffle_read", "spill")},
    } for j in jobs]
    selfs = metrics.self_times(spans + job_spans)
    for s in spans + job_spans:
        s["self_ms"] = selfs[s["id"]]
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps({"spans": spans + job_spans}, indent=1))


def run_one(workload, seed, seconds, trace, classes, jars):
    work_root = OUT / "work"
    leftovers = reap_leftovers(work_root)
    free_before = {"work_fs": free_bytes(OUT), "/dev/shm": free_bytes("/dev/shm")}
    raw, err = run_jvm(workload, seed, seconds, trace, classes, jars)
    if raw is None:
        return False, 1, 1, {}, err
    stamp = f"{workload}-seed{seed}-{'trace' if trace else 'e2e'}-{os.getpid()}"
    rec = record_of(raw, seed, trace, classes, leftovers, free_before)
    records = OUT / "records"
    records.mkdir(parents=True, exist_ok=True)
    # the passes of one run already agree; runs of one seed on one build must too
    earlier = [json.loads(f.read_text()) for f in records.glob(f"{workload}-seed{seed}-*.json")]
    differs = any(r.get("build") == rec["build"] and r.get("checksums") and rec["checksums"]
                  and r["checksums"] != rec["checksums"] for r in earlier)
    (records / f"{stamp}.json").write_text(json.dumps(rec, indent=1))
    if trace:
        write_trace(raw, OUT / "traces" / f"{stamp}.json")
    attempted = sum(p["ops"] for p in raw["passes"])
    failed = sum(p["ops"] for p in raw["passes"] if not p["ok"])
    errors = [p["error"] for p in raw["passes"] if not p["ok"]]
    if differs:
        errors.append("output checksum differs from an earlier run of this seed on this build")
        failed = attempted
    if raw.get("fatal"):
        errors.append(raw["fatal"])
        failed = max(failed, 1)
        attempted = max(attempted, failed)
    if trace:
        values, units = metrics.layer_metrics(raw), metrics.LAYER_UNITS
    else:
        values, units = metrics.e2e_metrics(raw), metrics.E2E_UNITS
    print(f"# {workload} seed={seed} nproc={raw['nproc']} xmx={XMX} spark={raw['spark_version']}"
          f" passes={sum(p['phase'] == 'measured' for p in raw['passes'])} inputs={raw['inputs']}")
    for name, v in values.items():
        print(f"{name} {v:.6g} {units[name]}")
    ok = not errors
    return ok, attempted, failed, {k: {"value": v, "unit": units[k]} for k, v in values.items()}, \
        "; ".join(errors)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="one of %s, a comma-separated list, or 'all'" % ", ".join(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    names = WORKLOADS if a.workload == "all" else a.workload.split(",")
    for n in names:
        if n not in WORKLOADS:
            fail(f"unknown workload {n!r}; choose from {', '.join(WORKLOADS)}")
    jars = spark_jars()
    classes = build(jars)
    results = [(n,) + run_one(n, a.seed, a.seconds, a.trace == 1, classes, jars) for n in names]
    for n, ok, _, _, _, err in results:
        if not ok:
            print(f"# {n}: CHECK FAILED: {err}")
    if len(results) == 1:
        metrics_out = results[0][4]
    else:
        metrics_out = {f"{n}.{k}": v for n, _, _, _, m, _ in results for k, v in m.items()}
    print(json.dumps({
        "correct": all(r[1] for r in results),
        "attempted": sum(r[2] for r in results),
        "failed": sum(r[3] for r in results),
        "metrics": metrics_out,
    }))
    sys.exit(0 if all(r[1] for r in results) else 1)


if __name__ == "__main__":
    main()
