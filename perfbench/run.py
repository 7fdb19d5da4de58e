#!/usr/bin/env python3
"""End-to-end benchmark of the engine.

    python3 perfbench/run.py --workload reports --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source into `.bench_build/` and generates the fixed tables
into `.bench_data/`; later runs reuse both. Each run starts one JVM
(`graft.perfbench.Main`) in a fresh directory under `.bench_run/`,
which is removed afterwards, then prints every metric by name and unit
and, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}.

--seconds sets the number of timed passes: seconds / PASS_S, at least
2. --trace 0 prints the end-to-end
metrics of BENCHMARK.json; --trace 1 prints its per-layer metrics and
writes the spans to `.bench_out/trace-<workload>-<seed>.json`. The raw
samples of every run are kept in `.bench_out/result-*.json`.
The expected result digests of the query workloads are the frozen
fixture `perfbench/expected.json`.
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
JVM_TIMEOUT_S = 170
# seconds of work per timed pass, for the pass count of a run
PASS_S = 5
QUIET_STEAL = 0.02
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import gen  # noqa: E402


def percentile(xs, q):
    """q-th percentile (0..100) by linear interpolation between order
    statistics (numpy's default rule)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# generated inputs are cached per generator version
GEN_TAG = hashlib.sha256((HERE / "gen.py").read_bytes()).hexdigest()[:12]


def ensure_tables():
    out = ROOT / ".bench_data" / f"tables-{GEN_TAG}"
    if not (out / "_DONE").exists():
        shutil.rmtree(out, ignore_errors=True)
        gen.tables(str(out))
        (out / "_DONE").write_text("")
    return out


def ensure_corpus(seed):
    out = ROOT / ".bench_data" / f"corpus-{GEN_TAG}-{seed}.parquet"
    if not out.exists():
        tmp = out.with_suffix(".tmp")
        gen.corpus(str(tmp), seed)
        tmp.rename(out)
    return out


def run_jvm(classes, args, run_dir, log_path):
    cmd = (["java", "-Xss8m", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Main"] + args)
    (run_dir / "tmp").mkdir(parents=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def cpu_times():
    """Aggregate CPU jiffies (user, nice, system, idle, ..., steal) of the machine."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def summarize(res, spec, expected, trace):
    """Metrics, attempted and failed counts from the harness's raw samples."""
    failures = list(res["failures"])
    for name, want in expected.items():
        got = res.get("digests", {}).get(name)
        if got is not None and got != want:
            failures.append(f"{name}: result digest {got} != expected {want}")
    missing = [n for n in expected if n not in res.get("digests", {})]
    failures += [f"{n}: no result" for n in missing
                 if not any(f.startswith(n + ":") for f in res["failures"])]

    if trace:
        layers = res.get("per_layer") or {}
        metrics = {}
        for m in spec["per_layer"]:
            v = layers.get(m["name"])
            if v is None:
                failures.append(f"metric {m['name']}: not measured")
            else:
                metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    else:
        passes = [p for p in res["passes"] if not p["traced"] and p["complete"]]
        samples = {}
        for p in passes:
            for u in p["units"]:
                samples.setdefault(u["name"], []).append((u["s"], u["steal"]))
        # A sample taken while the hypervisor stole more than QUIET_STEAL of
        # the machine's CPU time measures the neighbours; it is left out
        # unless every sample of that unit was disturbed, then the least
        # disturbed one is kept.
        quiet = {n: [t for t, st in ss if st <= QUIET_STEAL] or [min(ss, key=lambda x: x[1])[0]]
                 for n, ss in samples.items()}
        dropped = sum(len(ss) - len(quiet[n]) for n, ss in samples.items())
        # Each unit at its median over the timed passes, so one slow pass
        # of one unit moves neither the pass time nor a percentile. With a
        # single unit (curation) the percentiles are over its passes.
        per_unit = {n: percentile(ts, 50) for n, ts in quiet.items()}
        times = list(per_unit.values()) if len(per_unit) > 1 else [t for ts in quiet.values() for t in ts]
        vals = {
            "setup_s": percentile(res["setup_s"], 50),
            "wall_s": sum(per_unit.values()) if per_unit else None,
            "query_p50_s": percentile(times, 50) if times else None,
            "query_p85_s": percentile(times, 85) if times else None,
            "retained_heap_mb": res["retained_heap_mb"],
        }
        metrics = {}
        for m in spec["end_to_end"]:
            v = vals.get(m["name"])
            if v is None:
                failures.append(f"metric {m['name']}: no sample")
            else:
                metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
        print(f"samples: {len(passes)} timed passes of {len(per_unit)} units, {dropped} unit "
              f"samples left out for cpu steal > {QUIET_STEAL:.0%}, "
              f"{len(res['setup_s'])} set-ups", flush=True)
        print("pass wall_s: " + " ".join(f"{p['wall_s']:.3f}" for p in passes)
              + "; setup_s: " + " ".join(f"{x:.3f}" for x in res["setup_s"]), flush=True)
    print("harness phases (s): " + ", ".join(f"{k} {v:.1f}" for k, v in res["phase_s"].items()),
          flush=True)
    return metrics, failures


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = json.loads((HERE / "workloads.json").read_text())["workloads"]
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload!r}; choose from {sorted(workloads)}")
    expected = json.loads((HERE / "expected.json").read_text()).get(a.workload, {})
    if a.workload != "curation" and not expected:
        sys.exit(f"no expected digests for {a.workload} in perfbench/expected.json")

    classes = build.build(ROOT)
    tables = ensure_tables()
    corpus = ensure_corpus(a.seed) if a.workload == "curation" or a.trace else ""

    run_dir = ROOT / ".bench_run" / f"{a.workload}-{a.seed}-{os.getpid()}"
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    log_path = out_dir / f"{a.workload}-{a.seed}-trace{a.trace}.log"
    cores = len(os.sched_getaffinity(0))
    # a fixed pass count per run keeps JIT warm-up identical across runs;
    # traced runs alternate untraced and traced passes
    passes = max(2, round(a.seconds / PASS_S))
    if a.trace:
        passes = max(4, passes + passes % 2)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
            "--trace", str(a.trace), "--data", str(tables), "--corpus", str(corpus),
            "--cores", str(cores), "--units", ",".join(workloads[a.workload].get("units", [])), "--out", str(run_dir / "result.json")]
    t0 = time.monotonic()
    cpu0 = cpu_times()
    try:
        code = run_jvm(classes, args, run_dir, log_path)
        result = run_dir / "result.json"
        if code != 0 or not result.exists():
            tail = log_path.read_text(errors="replace").splitlines()[-30:]
            print("\n".join(tail), file=sys.stderr)
            sys.exit(f"harness {'timed out' if code is None else f'exited with {code}'}; log: {log_path}")
        res = json.loads(result.read_text())
        shutil.copy(result, out_dir / f"result-{a.workload}-{a.seed}-trace{a.trace}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics, failures = summarize(res, spec, expected, a.trace == 1)
    if a.trace:
        (out_dir / f"trace-{a.workload}-{a.seed}.json").write_text(json.dumps(
            {"per_layer": res.get("per_layer"), "spans": res.get("spans"),
             "curation_check": res.get("curation_check")}, indent=1))
    if "curation_check" in res:
        c = res["curation_check"]
        print(f"curation: {c['curated']} curated docs, {c['pairs']} verified pairs, "
              f"{c['survivors']} survivors, {c['packed_tokens']} packed tokens", flush=True)
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}", flush=True)
    attempted = int(res["attempted"])
    failed = min(len(failures), attempted)
    for f in failures:
        print(f"FAILED {f}", flush=True)
    cpu1 = cpu_times()
    if cpu0 and cpu1 and len(cpu1) > 7:
        d = [b - a for a, b in zip(cpu0, cpu1)]
        # time the hypervisor gave to other machines inflates every timing
        print(f"cpu steal during the run: {100.0 * d[7] / max(1, sum(d)):.1f} %", flush=True)
    print(f"failed_frac = {failed / attempted:.4f} ({failed} of {attempted} units); "
          f"run took {time.monotonic() - t0:.1f} s", flush=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
