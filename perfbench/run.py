#!/usr/bin/env python3
"""The repository benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload log_scan|query_mix|log_stream \
        --seed N --seconds S --trace 0|1

Run it from the repository root. It builds the library together with the
benchmark (perfbench/build.sbt) once per source state, generates the seeded
inputs under perfbench/.cache, runs one JVM (perfbench.Main), checks every
op's output, and prints the metrics: readable lines first, then, as the last
line of stdout, one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics of BENCHMARK.json untraced, its per-layer
metrics traced). Exit status 0 only if every op was correct.

See perfbench/README.md for what each workload and metric measures.
"""
import argparse
import ast
import fcntl
import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CACHE = os.path.join(BENCH, ".cache")
WORKLOADS = ("log_scan", "query_mix", "log_stream")
JVM_TIMEOUT_S = 165



def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def fingerprint():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + benchmark with sbt unless this source state was
    already built; returns the runtime classpath."""
    os.makedirs(CACHE, exist_ok=True)
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp = os.path.join(CACHE, "build.stamp")
    with open(os.path.join(CACHE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = fingerprint()
        if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == fp:
            return open(cp_file).read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "").strip()
        if not opts:
            repo_cfg = os.path.expanduser("~/.sbt/repositories")
            opts = "-Dsbt.offline=true -Xmx2g"
            if os.path.exists(repo_cfg):
                opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repo_cfg}"
        # keep sbt's own files (global base, temp files, native helpers) in
        # the checkout, and run no sbt server
        tmp = os.path.join(CACHE, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SBT_OPTS"] = opts + (f" -Dsbt.global.base={os.path.join(CACHE, 'sbt-global')}"
                                  f" -Dsbt.ivy.home={os.path.join(CACHE, 'ivy2')}"
                                  f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
        env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also the launcher's `java -version`
        env["TMPDIR"] = tmp
        t0 = time.time()
        rc = run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "compile",
                        "writeClasspath"],
                       timeout=840, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(cp_file):
            fail(f"build failed (sbt exit {rc})", 3)
        with open(stamp, "w") as f:
            f.write(fp)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
        return open(cp_file).read().strip()


def oracle_check(tables, out_dir):
    """DuckDB oracle compare of each query's first result, by the repo's own
    rows/schema/hash rule (dev/oracle_check.py). Returns the names that
    failed; None if the check itself could not run."""
    names = sorted(d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d)))
    p = subprocess.run([sys.executable, os.path.join(ROOT, "dev", "oracle_check.py"), tables,
                        out_dir, ",".join(names)], capture_output=True, text=True, timeout=120)
    print(p.stdout.strip().splitlines()[0] if p.stdout.strip() else p.stderr[-500:], file=sys.stderr)
    bad = set()
    for line in p.stdout.splitlines():
        if line.startswith("BAD:"):
            bad.add(ast.literal_eval(line[4:].strip())[0])
        elif line.startswith("MISSING:"):
            bad.add(line.split(":", 1)[1].strip())
    if p.returncode != 0 and not bad:
        return None
    return bad


def num(v):
    """A figure from the result file as a float (NaN if absent)."""
    return float("nan") if v is None else float(v)


def guess_unit(name):
    """Unit of a context figure, from its name (bounded metrics take theirs
    from BENCHMARK.json)."""
    t = name.replace(".", "_").split("_")
    if t[-2:] == ["mb", "s"]:
        return "MB/s"
    if t[-2:] == ["per", "s"]:
        return "1/s"
    for token, u in (("ns", "ns"), ("ms", "ms"), ("mb", "MB"), ("s", "s")):
        if token in t:
            return u
    if t[-1] in ("frac", "ratio", "util", "skew"):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--files-per-second", type=float,
                    help="log_stream arrival rate (default: perfbench.Main.FilesPerSecond); for rate sweeps")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no library sources beside {BENCH} (expected build.sbt and src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    unit = lambda k: units.get(k) or guess_unit(k)

    cp = build()
    t_gen = time.time()
    tables = None
    if a.workload == "query_mix":
        sys.path.insert(0, BENCH)
        import tables as tables_mod
        tables = tables_mod.ensure(os.path.join(CACHE, f"tables_{tables_mod.DATA_SEED}"))
    py_gen_s = time.time() - t_gen

    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    results = os.path.join(CACHE, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}_s{a.seed}_t{a.trace}"
    out = os.path.join(results, tag + ".json")
    spans = os.path.join(results, tag + ".spans.jsonl")
    if os.path.exists(out):
        os.remove(out)
    # a fixed, pre-touched heap: peak RSS then moves only with native and
    # off-heap memory (threads, direct buffers, code cache, metaspace), not
    # with when the collector happened to grow the heap
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    with open(os.path.join(BENCH, "jvm-opens.txt")) as f:
        for p in f.read().split():
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cache", CACHE, "--out", out,
            "--spans", spans]
    if tables:
        cmd += ["--tables", tables]
    if a.files_per_second:
        cmd += ["--files-per-second", str(a.files_per_second)]
    rc = run_group(cmd, timeout=JVM_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                   stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed (exit {rc})", 4)
    with open(out) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    if a.workload == "query_mix":
        bad = oracle_check(tables, os.path.join(CACHE, "query_mix_out"))
        if bad is None:
            failed, failures = attempted, failures + ["oracle check could not run"]
        else:
            by_name = res["op_counts"]
            failed_by_name = res["op_failed_counts"]
            for name in bad:
                failed += by_name.get(name, 0) - failed_by_name.get(name, 0)
            failures += [f"{n}: differs from the DuckDB oracle" for n in sorted(bad)]
    correct = failed == 0

    ctx = dict(res["context"])
    ctx["gen_s"] = ctx.get("gen_s", 0.0) + py_gen_s
    ctx["ops_failed_frac"] = failed / max(1, attempted)
    if a.trace:
        # a layer the workload does not exercise reads 0 (logstream.* on log_scan)
        source = {m: res["per_layer"].get(m, 0.0) for m in wanted}
    else:
        source = res["end_to_end"]
        missing = [m for m in wanted if m not in source]
        if missing:
            fail(f"the JVM did not report {missing}", 5)
    # an empty sample (a median of nothing) reads 0, so the line stays strict JSON
    metrics = {m: {"value": num(source[m]) if math.isfinite(num(source[m])) else 0.0, "unit": u}
               for m, u in wanted.items()}

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}: "
          f"{attempted} ops, {failed} failed")
    for k in sorted(res["end_to_end"]):
        print(f"  {k:<34} {num(res['end_to_end'][k]):>14.6g} {unit(k)}")
    for k in sorted(ctx):
        print(f"  {k:<34} {num(ctx[k]):>14.6g} {unit(k)}")
    if a.trace:
        for k in sorted(set(source) | set(res["per_layer"])):
            print(f"  {k:<34} {num(source.get(k, res['per_layer'].get(k))):>14.6g} {unit(k)}")
        print(f"  spans: {spans}")
    for f in failures[:20]:
        print(f"  FAILED {f}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
