"""Benchmark of the rollup engine: four seeded workloads, end-to-end
metrics from untraced runs and per-layer metrics from a traced run.

    python3 perfbench/run.py --workload cascade --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --runs 3

One workload: builds the engine from source if needed, runs one JVM,
checks the outputs, prints a report and, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics of BENCHMARK.json, `--trace 1` its
per-layer metrics (the JVM measures once untraced and once traced, and
a second JVM at one core gives the scaling efficiency). `--workload all`
runs every workload `--runs` times on consecutive seeds and prints each
end-to-end metric with n, median and IQR across the runs. The exit code
is nonzero if any operation or output check failed.

Every file a run writes lives under .bench_build/ at the repository root;
the per-run directory is deleted when the run ends.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

REPO = build.REPO
BUILD = build.BUILD
WORKLOADS = ["cascade", "incremental", "stream", "curate"]
MIN_FREE_BYTES = 2 << 30
DEADLINE_S = 170.0


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Refused(Exception):
    pass


# ---- preflight --------------------------------------------------------

def busy_jvms(sample_s=0.2):
    """Other Spark or sbt JVMs of this machine that use CPU right now."""
    def jvms():
        out = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == os.getpid():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if "java" in cmd and any(k in cmd for k in ("org.apache.spark", "sbt", "perfbench")):
                out[pid] = (int(f[11]) + int(f[12]), cmd[:120])
        return out
    before = jvms()
    time.sleep(sample_s)
    after = jvms()
    hz = os.sysconf("SC_CLK_TCK")
    return [cmd for pid, (t, cmd) in after.items()
            if pid in before and (t - before[pid][0]) / hz > 0.5 * sample_s]


def preflight():
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        raise Refused(f"engine sources not found under {REPO}/src/main/scala")
    if build.spark_home() is None:
        raise Refused("no Spark distribution found (set SPARK_HOME)")
    if shutil.which("java") is None:
        raise Refused("java not found")
    os.makedirs(BUILD, exist_ok=True)
    free = shutil.disk_usage(BUILD).free
    if free < MIN_FREE_BYTES:
        raise Refused(f"only {free >> 20} MiB free on disk; need {MIN_FREE_BYTES >> 20} MiB")
    for _ in range(30):
        busy = busy_jvms()
        if not busy:
            return
        log(f"waiting for busy JVMs to go idle: {busy}")
        time.sleep(1.0)
    raise Refused(f"another Spark or sbt JVM is busy: {busy}")


def host_facts(seed):
    facts = {"nproc": len(os.sched_getaffinity(0)), "seed": seed}
    try:
        with open("/proc/meminfo") as fh:
            facts["mem_total"] = fh.readline().split(":")[1].strip()
    except OSError:
        pass
    git = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True, text=True)
    facts["git_commit"] = git.stdout.strip() if git.returncode == 0 else "unknown (not a git checkout)"
    return facts


# ---- one JVM ------------------------------------------------------------

def run_jvm(jar, workload, seed, seconds, trace, cores, setup_reps, deadline, trace_out=""):
    """Runs the benchmark JVM in a private run directory; returns its result."""
    run = os.path.join(BUILD, "runs", f"{workload}-{seed}-{cores}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    try:
        cmd = build.java_cmd(jar, run) + [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores),
            "--setup-reps", str(setup_reps), "--run-dir", run,
            "--out", os.path.join(run, "result.json")]
        if trace_out:
            cmd += ["--trace-out", trace_out]
        logfile = os.path.join(run, "jvm.log")
        with open(logfile, "w") as out:
            proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run,
                                    start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise RuntimeError(f"{workload} JVM exceeded the time limit")
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        result = os.path.join(run, "result.json")
        if proc.returncode != 0 or not os.path.exists(result):
            with open(logfile, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            raise RuntimeError(f"{workload} JVM exited with {proc.returncode}")
        with open(result) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run, ignore_errors=True)


def run_once(jar, workload, seed, seconds, trace, deadline):
    """One run of a workload; a traced cascade adds the one-core run."""
    cores = len(os.sched_getaffinity(0))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    trace_out = os.path.join(traces, f"{workload}-{seed}.jsonl") if trace else ""
    res = run_jvm(jar, workload, seed, seconds, trace, cores, 3, deadline, trace_out)
    if trace and workload == "cascade":
        # Rollup's N→1 scaling: the cascade at one core, in its own JVM.
        one = run_jvm(jar, workload, seed, max(2, seconds / 2), False, 1, 1, deadline)
        rate = lambda r: next(m["value"] for m in r["end_to_end"] if m["name"] == "rows_per_s")
        res["per_layer"].append({
            "name": "rollup.scaling_eff", "unit": "ratio", "n": 1, "iqr": 0.0,
            "value": rate(res) / (cores * rate(one)),
            "note": f"rows/s at {cores} cores {rate(res):.1f} vs 1 core {rate(one):.1f}"})
        res["attempted"] += one["attempted"]
        res["failed"] += one["failed"]
        res["failures"] += one["failures"]
    return res


# ---- output ---------------------------------------------------------------

def spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(res, trace):
    names = [m["name"] for m in spec()["per_layer" if trace else "end_to_end"]]
    got = {m["name"]: m for m in res["per_layer" if trace else "end_to_end"]}
    metrics = {}
    for n in names:
        if n in got:
            metrics[n] = {"value": got[n]["value"], "unit": got[n]["unit"]}
        elif trace:  # a layer this workload does not call
            metrics[n] = {"value": 0.0, "unit": next(
                m["unit"] for m in spec()["per_layer"] if m["name"] == n)}
        else:
            raise RuntimeError(f"metric {n} missing from the {res['workload']} result")
    correct = res["failed"] == 0
    return {"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def print_run(res, facts):
    print("host " + json.dumps(dict(facts, jvm=res["jvm"], spark=res["spark_version"],
                                    spark_conf=res["spark_conf"])))
    share = res["failed"] / max(1, res["attempted"])
    print(f"{res['workload']} seed={res['seed']} cores={res['cores']} seconds={res['seconds']} "
          f"trace={int(res['trace'])}: failed {res['failed']}/{res['attempted']} "
          f"(failed_share {share:.4f})")
    print("  timeline " + " ".join(f"{k}={v:.1f}s" for k, v in res["timeline_s"].items()) +
          " cpu_probe=" + "/".join(f"{x:.3f}s" for x in res["cpu_probe_s"]))
    for f in res["failures"]:
        print(f"  FAILURE {f}")
    for section in ("end_to_end", "per_layer"):
        for m in res[section]:
            note = f"  [{m['note']}]" if m["note"] else ""
            print(f"  {section:10s} {m['name']:40s} {m['value']:>14.6g} {m['unit']:8s} "
                  f"n={m['n']:<4d} iqr={m['iqr']:.4g}{note}")


def summarize(results):
    """n, median and IQR across runs, per workload and end-to-end metric."""
    print("summary across runs (value = per-run figure)")
    for w in sorted({r["workload"] for r in results}):
        rs = [r for r in results if r["workload"] == w]
        att = sum(r["attempted"] for r in rs)
        fail = sum(r["failed"] for r in rs)
        print(f"{w}: runs={len(rs)} failed {fail}/{att} (failed_share {fail / max(1, att):.4f})")
        for m in spec()["end_to_end"]:
            xs = [x["value"] for r in rs for x in r["end_to_end"] if x["name"] == m["name"]]
            med = statistics.median(xs)
            iqr = 0.0
            if len(xs) >= 2:
                q = statistics.quantiles(xs, n=4)
                iqr = q[2] - q[0]
            print(f"  {m['name']:22s} {m['unit']:6s} n={len(xs):<3d} median={med:.6g} "
                  f"iqr={iqr:.4g} ({iqr / med if med else 0:.1%} of median)")


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=float(spec()["run_seconds"])
                    if os.path.exists(os.path.join(REPO, "BENCHMARK.json")) else 10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--runs", type=int, default=1, help="runs per workload with --workload all")
    a = ap.parse_args()
    start = time.monotonic()
    try:
        preflight()
        b0 = time.monotonic()
        jar = build.build()
        build_s = time.monotonic() - b0
    except (Refused, RuntimeError, subprocess.CalledProcessError) as e:
        log(f"refused: {e}")
        return 2
    facts = host_facts(a.seed)
    # The time limit of a run excludes the one-off build.
    deadline = start + build_s + DEADLINE_S

    if a.workload != "all":
        try:
            res = run_once(jar, a.workload, a.seed, a.seconds, bool(a.trace), deadline)
        except RuntimeError as e:
            log(f"run failed: {e}")
            return 1
        print_run(res, facts)
        line = result_line(res, bool(a.trace))
        print(json.dumps(line), flush=True)
        return 0 if line["correct"] else 1

    results = []
    for w in WORKLOADS:
        for i in range(a.runs):
            try:
                res = run_once(jar, w, a.seed + i, a.seconds, bool(a.trace),
                               time.monotonic() + DEADLINE_S)
            except RuntimeError as e:
                log(f"run failed: {e}")
                return 1
            print_run(res, dict(facts, seed=a.seed + i))
            results.append(res)
    summarize(results)
    return 0 if all(r["failed"] == 0 for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
