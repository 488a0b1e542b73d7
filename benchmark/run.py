#!/usr/bin/env python3
"""graft benchmark: marts / curate / refresh.

Usage (from the root of a graft checkout):
  python3 benchmark/run.py --workload <marts|curate|refresh> --seed <n>
                           --seconds <s> --trace <0|1>

Builds graft and the harness from source (benchmark/build.py), generates
the workload's inputs from the seed (benchmark/gen.py), runs the workload
in a fresh JVM on local[nproc] (one cold pass, then warm passes for
--seconds), checks every op's output outside the timed windows
(benchmark/check.py) and prints one JSON result as the last stdout line.
A human-readable report goes to stderr and, with the full per-op data,
to .bench_results/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402

WORKLOADS = {
    "curate": ["d2_dedup_minhash", "d5b_embed_neardup_lsh", "t5_pii_scrub"],
    "refresh": ["q59_stream_dedup", "inc_delete_insert", "inc_merge"],
}

# pass times the harness reports in every run: end-to-end metrics of the
# untraced run; the traced run lists warm_pass_s as trace.warm_pass_s
PASS_TIMES = ("cold_pass_s", "warm_pass_s")
SETUP_SAMPLES = 2
# a run must end within 180 s: the main JVM gets 145 s, a set-up JVM 25 s
MAIN_TIMEOUT_S, SETUP_TIMEOUT_S = 145, 25
DATA_CACHE = ".bench_data"
WORK = ".bench_work"
RESULTS = ".bench_results"


def heap():
    """The tier-1 heap rule: half of RAM in GB, clamped to 2..8."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def inputs(workload, seed):
    """Generated inputs for (workload, seed), cached; at most 4 kept."""
    import gen
    d = os.path.abspath(os.path.join(DATA_CACHE, f"{workload}-{seed}"))
    if not os.path.exists(os.path.join(d, "manifest.json")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
    cached = sorted((os.path.getmtime(p), p) for p in
                    (os.path.join(DATA_CACHE, x) for x in
                     os.listdir(DATA_CACHE)) if p != d)
    for _, old in cached[:-3]:
        shutil.rmtree(old, ignore_errors=True)
    os.utime(d)
    return d, json.load(open(os.path.join(d, "manifest.json")))


def jvm(cpfile, work, args, log, timeout):
    """Run the harness in a fresh JVM; return (launch epoch ms, result)."""
    cpus = str(os.cpu_count() or 1)
    try:
        cpus = str(len(os.sched_getaffinity(0)))
    except AttributeError:
        pass
    tmp, local, out = (os.path.join(work, x) for x in ("tmp", "local", "out"))
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_LOCAL_DIRS=local)
    env.pop("GRAFT_SCRATCH_ROOT", None)
    cmd = (["java", "-XX:-UsePerfData"] + build.jvm_options() +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            "-cp", open(cpfile).read().strip(), "graftbench.Harness",
            "--out", out] + args)
    launch_ms = time.time() * 1000.0
    with open(log, "ab") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             env=env)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise RuntimeError(f"harness JVM timed out; see {log}")
    res = os.path.join(out, "result.json")
    if not os.path.exists(res):
        raise RuntimeError(f"harness JVM exited {p.returncode} without a "
                           f"result; see {log}")
    return launch_ms, json.load(open(res))


def unit(name):
    """Units follow the metric names' suffixes."""
    for suffix, u in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                      ("_rows", "rows"), ("rows_out", "rows")):
        if name.endswith(suffix):
            return u
    return "ratio" if name.endswith(("_ratio", "_amp", "_util", "_row")) \
        else "count"


def setup_s(launch_ms, res):
    return (res["setup"]["ready_ms"] - launch_ms) / 1000.0


def report(workload, seed, trace, res, checks, result, manifest):
    w = sys.stderr.write
    st = res["stamp"]
    w(f"== graft benchmark: {workload} seed={seed} trace={trace}\n")
    w(f"nproc={st['nproc']} load start={st['start']['loadavg']} "
      f"end={st['end']['loadavg']} peers="
      f"{len(st['start']['peers']) + len(st['end']['peers'])}\n")
    w(f"inputs: {manifest['input_bytes']} bytes; rows " +
      json.dumps({t: v["rows"] for t, v in manifest["tables"].items()}) +
      "\n")
    if "corpus" in manifest:
        w("corpus: " + json.dumps(manifest["corpus"]) + "\n")
    w(f"warm passes: {res['warm_passes']}, op samples: "
      f"{sum(len(o['samples_ms']) for o in res['ops'])}; pass walls (ms, "
      f"with untimed hygiene): {res['pass_wall_ms']}\n")
    for name, m in result["metrics"].items():
        w(f"  {name:28s} {m['value']:.6g} {m['unit']}\n")
    cols = ["wall_ms", "build_ms", "plan_ms", "exec_ms", "catalog_ms",
            "self_ms", "driver_idle_ms", "task_cpu_ms", "input_mb",
            "shuffle_mb"]
    w("five slowest ops (warm means; self = op span minus its children):\n")
    w("  " + f"{'op':24s}" + "".join(f"{c:>15s}" for c in cols) + "\n")
    for row in res["op_table"][:5]:
        w("  " + f"{row['op']:24s}" +
          "".join(f"{row[c]:15.2f}" for c in cols) + "\n")
    for op, why in sorted(checks.items()):
        w(f"  FAILED {op}: {why}\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for f in ("tools/gen_scale.py", "tools/validate.py", "src/main/scala"):
        if not os.path.exists(f):
            sys.exit(f"benchmark: {f} is missing; run from a graft checkout")

    t_start = time.time()
    phases = {}
    cpfile = build.build()
    phases["build_s"] = time.time() - t_start
    data, manifest = inputs(a.workload, a.seed)
    phases["inputs_s"] = time.time() - t_start
    ops = WORKLOADS[a.workload]
    work = os.path.abspath(os.path.join(
        WORK, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "jvm.log")
    try:
        launch, res = jvm(cpfile, work, [
            "--data", data,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--ops", ",".join(ops),
            "--input-bytes", str(manifest["input_bytes"])], log,
            MAIN_TIMEOUT_S)
        phases["main_jvm_s"] = time.time() - t_start
        out = os.path.join(work, "out")
        failures = check.run(res, data, out)
        phases["checks_s"] = time.time() - t_start
        setups = [setup_s(launch, res)]
        for _ in range(0 if a.trace else SETUP_SAMPLES - 1):
            setups.append(setup_s(*jvm(cpfile, os.path.join(work, "setup"), [
                "--data", data, "--setup-only"], log, SETUP_TIMEOUT_S)))
        phases["setup_probes_s"] = time.time() - t_start
    except RuntimeError as e:
        sys.exit(f"benchmark: {e}")

    passes = res["warm_passes"] + 1
    attempted = len(ops) * passes
    failed = sum(passes if o["op"] in failures else o["failed_passes"]
                 for o in res["ops"])
    m = res["metrics"]
    if a.trace:
        metrics = {k: v for k, v in m.items() if k not in PASS_TIMES}
        metrics.update({
            "session.jvm_start_s": (res["setup"]["entry_ms"] - launch) / 1e3,
            "session.build_s": res["setup"]["build_s"],
            "fail_ratio": failed / attempted,
            "trace.warm_pass_s": m["warm_pass_s"]})
    else:
        metrics = {"setup_s": statistics.median(setups),
                   "peak_rss_mb": res["peak_rss_mb"],
                   **{k: m[k] for k in PASS_TIMES}}
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": unit(k)}
                          for k, v in sorted(metrics.items())}}
    report(a.workload, a.seed, a.trace, res, failures, result, manifest)
    sys.stderr.write("run timeline (s since start): " + ", ".join(
        f"{k} {v:.1f}" for k, v in phases.items()) + "\n")
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{a.workload}-{a.seed}-{a.trace}.json"),
              "w") as f:
        json.dump({"result": result, "run": res, "failures": failures,
                   "setup_samples": setups, "phases": phases,
                   "manifest": manifest}, f)
    shutil.move(log, os.path.join(
        RESULTS, f"{a.workload}-{a.seed}-{a.trace}.log"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
