#!/usr/bin/env python3
"""graft's benchmark: run one workload at one seed.

    python3 perfbench/run.py --workload reference_recsys --seed 3 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
JVM harness from source (sbt, offline) and caches the build; every run
derives its inputs from `--seed` (cached per seed), starts one session,
runs one untimed cold pass, then a fixed number of timed passes that
takes about `--seconds` seconds.
Every op output is checked against its DuckDB oracle after each pass,
outside the timed region. The last stdout line is the result JSON; the
line before it is the run's context (host, inputs, failures, spans).
The exit code is nonzero when any op fails or mismatches its oracle.

`--trace 1` alternates traced and untraced passes and reports the
per-layer metrics instead of the end-to-end ones. `--plant throw:<op>` or
`--plant wrong:<op>` makes one op throw or return one extra row; the
benchmark's own tests use it to prove the gate.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import inputs  # noqa: E402
from oracle import Oracle  # noqa: E402

SCRATCH = BENCH / ".scratch"
CACHE = SCRATCH / "cache"
# The reference's post-processing ops q13_confidence and q14_penetration are
# left out: their `avg_retail` column rounds an exact tie (Brand#4's mean
# retail price is 950.59375) at 4 places, so the value they write depends on
# the order Spark sums partial averages in, and they miss their oracle on
# some seeds and runs.
WORKLOADS = {
    "reference_recsys": ["q44_peer_search_flow", "q40_als_recommend"],
    "graph_iterative": ["q217_chain_components", "q226_hits"],
}
TABLES_READ = {"reference_recsys": ["customer", "orders", "lineitem", "part"],
               "graph_iterative": ["orders", "lineitem"]}
# corpus_curation's ops: timed and gated in every traced run's census only;
# as a workload of its own, its pass time spread too far under host contention
CENSUS_ONLY = ["q200_corpus_canonical_pack", "q109_training_prep"]
ALL_OPS = [op for ops in WORKLOADS.values() for op in ops] + CENSUS_ONLY
# A run makes round(seconds / nominal pass time) timed passes, at least two:
# the same count on every run of a workload, so the median is always taken
# over the same pass positions, however fast the host is. The nominal times
# are warm pass times on a 4-core host.
NOMINAL_PASS_S = {"reference_recsys": 6.8, "graph_iterative": 6.5}
CORES = os.cpu_count() or 4
# the heap starts at its full size: a growing heap collected far more often in
# the first timed passes (process CPU 15 s against 19-26 s a graph pass)
HEAP = "3g"
# no single harness reply (set-up, a pass, the census, the end) takes this long
REPLY_TIMEOUT_S = 120.0
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Fatal(Exception):
    """A set-up problem: the run ends nonzero without printing a result."""


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", *sorted((ROOT / "project").glob("*.properties")),
             *sorted((ROOT / "project").glob("*.sbt")),
             *sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file()),
             *sorted(p for p in (BENCH / "harness").rglob("*")
                     if p.is_file() and "target" not in p.relative_to(BENCH).parts)]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Classpath of the harness and graft, compiled from source once per
    source state."""
    for need in ("build.sbt", "src/main/scala", "tools/check_oracle.py"):
        if not (ROOT / need).exists():
            raise Fatal(f"not a graft checkout: {ROOT / need} is missing")
    stamp = source_stamp()
    out = CACHE / "build"
    # the compiled classes are those of the last build, so only its stamp
    # may reuse them
    last = out / "last-build.json"
    if last.exists() and json.loads(last.read_text())["stamp"] == stamp:
        return json.loads(last.read_text())["classpath"], stamp
    if not shutil.which("sbt"):
        raise Fatal("sbt is not on PATH")
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = Path.home() / ".sbt" / "repositories"
        env["SBT_OPTS"] = " ".join(
            ["-Xmx2g", "-XX:-UsePerfData", "-Dsbt.offline=true"] +
            (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
             if repos.exists() else []))
    log("building graft and the harness (sbt) ...")
    t0 = time.monotonic()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH / "harness", env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise Fatal("build failed")
    cp = [l for l in r.stdout.splitlines() if "scala-library" in l or ".jar:" in l][-1].strip()
    log(f"built in {time.monotonic() - t0:.1f} s")
    last.write_text(json.dumps({"stamp": stamp, "classpath": cp}))
    return cp, stamp


# ---------------------------------------------------------------- JVM

class Jvm:
    """The harness process, driven one command at a time."""

    def __init__(self, cp, args, work):
        self.err = open(work / "jvm.stderr", "w")
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work / 'tmp'}"]
        for p in JDK17_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graftbench.Main", *args]
        self.p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.err, text=True)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()
        self.work = work

    def _pump(self):
        for line in self.p.stdout:
            if line.startswith("@@"):
                self.lines.put(line)
        self.lines.put(None)

    def ask(self, command, reply):
        self.p.stdin.write(command + "\n")
        self.p.stdin.flush()
        return self.read(reply)

    def read(self, reply):
        try:
            line = self.lines.get(timeout=REPLY_TIMEOUT_S)
        except queue.Empty:
            raise Fatal(f"harness did not answer in time ({reply})")
        if line is None:
            tail = (self.work / "jvm.stderr").read_text()[-3000:]
            raise Fatal(f"harness exited early (waiting for {reply}):\n{tail}")
        tag, body = line[2:].split(" ", 1)
        if tag != reply:
            raise Fatal(f"expected @@{reply}, got @@{tag}")
        return json.loads(body)

    def close(self, graceful):
        """Let the harness stop its session after `end`; otherwise stop it."""
        if self.p.poll() is None:
            try:
                self.p.stdin.close()
            except OSError:
                pass
            if not graceful:
                self.p.terminate()
            try:
                self.p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.p.kill()
                self.p.wait()
        self.err.close()


# ---------------------------------------------------------------- metrics

def tail(values):
    """The highest percentile of `values` with at least 10 values beyond
    it; with 10 or fewer values, the maximum. Returns (value, percentile)."""
    s = sorted(values)
    n = len(s)
    if n >= 11:
        return s[n - 11], 100.0 * (n - 10) / n
    return s[-1], 100.0


def counter_deltas(pass_result):
    """Per-op scheduler/plan counter deltas of one traced pass."""
    prev = pass_result["start_counters"]
    out = []
    for op in pass_result["ops"]:
        cur = op["counters"]
        out.append({k: cur[k] - prev[k] for k in cur})
        prev = cur
    return out


def pass_kinds(workload, seconds, trace):
    """The kind of each timed pass. Traced runs take whole blocks of
    untraced/traced/traced/untraced, so warm-up drift falls on both kinds
    alike."""
    n = max(2, round(seconds / NOMINAL_PASS_S[workload]))
    if not trace:
        return ["timed"] * n
    return ["timed", "traced", "traced", "timed"] * -(-n // 4)


def layer_metrics(traced, untraced, census, end, leaked, wl_ops):
    """Per-layer metrics: medians (an observed value) over traced passes."""
    med = statistics.median_low
    per_pass = []
    for p in traced:
        d = counter_deltas(p)
        tot = {k: sum(x[k] for x in d) for k in d[0]}
        joins = sum(op["join_rows"] for op in p["ops"])
        per_pass.append({
            "flows.build_ms": sum(op["build_ms"] for op in p["ops"]),
            "flows.eager_jobs": tot["eager_jobs"],
            "sql.analysis_ms": tot["analysis_ms"],
            "sql.optimization_ms": tot["optimization_ms"],
            "sql.planning_ms": tot["planning_ms"],
            "exec.jobs": tot["jobs"], "exec.stages": tot["stages"],
            "exec.tasks": tot["tasks"],
            "exec.task_run_s": tot["task_run_ms"] / 1e3,
            "exec.task_cpu_s": tot["task_cpu_ns"] / 1e9,
            "exec.gc_s": tot["gc_ms"] / 1e3,
            "exec.failed_tasks": tot["failed_tasks"],
            "exec.core_idle_frac": 1 - tot["task_run_ms"] / 1e3 / (CORES * p["wall_s"]),
            "shuffle.write_mb": tot["shuffle_write_bytes"] / 1e6,
            "shuffle.read_mb": tot["shuffle_read_bytes"] / 1e6,
            "shuffle.fetch_wait_ms": tot["fetch_wait_ms"],
            "shuffle.spill_mb": tot["spill_bytes"] / 1e6,
            "io.scan_mb": tot["scan_bytes"] / 1e6, "io.scan_rows": tot["scan_rows"],
            "io.write_mb": tot["write_bytes"] / 1e6, "io.write_rows": tot["write_rows"],
            "ops.join_rows_out": joins,
            "ops.pairs_per_result": joins / max(1, tot["write_rows"]),
        })
    m = {k: med([pp[k] for pp in per_pass]) for k in per_pass[0]}
    for op in wl_ops:
        m[f"op.{op}.s"] = med([o["s"] for p in traced for o in p["ops"] if o["name"] == op])
    for c in census:
        m[f"op.{c['name']}.s"] = c["s"]
    m["storage.peak_mb"] = max(p["storage_peak_mb"] for p in traced)
    m["storage.residual_mb"] = max(o["residual_mb"] for p in traced for o in p["ops"])
    m["storage.cache_entries"] = max(o["cache_entries"] for p in traced for o in p["ops"])
    m["scratch.leaked_paths"] = len(leaked)
    lsh = end["lsh"]
    m["llm.lsh_candidates"] = lsh["candidates"]
    m["llm.lsh_useful_frac"] = lsh["useful"] / max(1, lsh["candidates"])
    for k, v in end["kernels"].items():
        m[f"kernel.{k}.rows_per_s"] = v["rows_per_s"]
        m[f"kernel.{k}.builtin_rows_per_s"] = v["builtin_rows_per_s"]
    m["trace.overhead_s"] = (statistics.median([p["wall_s"] for p in traced]) -
                             statistics.median([p["wall_s"] for p in untraced]))
    return m


def span_summary(path):
    """Median over passes of each span's duration and self time (ms)."""
    if not path.exists():
        return {}
    spans = [json.loads(l) for l in path.read_text().splitlines() if l]
    by_id = {s["id"]: s for s in spans}
    child_ns = {}
    for s in spans:
        if s["parent"] >= 0:
            child_ns[s["parent"]] = child_ns.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]

    def path_of(s):
        return s["name"] if s["parent"] < 0 else f"{path_of(by_id[s['parent']])}/{s['name']}"

    acc = {}
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        acc.setdefault(path_of(s), []).append((dur / 1e6, (dur - child_ns.get(s["id"], 0)) / 1e6))
    return {k: {"ms": statistics.median(d for d, _ in v),
                "self_ms": statistics.median(x for _, x in v), "n": len(v)}
            for k, v in acc.items()}


# ---------------------------------------------------------------- run

def run(args):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if args.trace else spec["end_to_end"])]
    ops = WORKLOADS[args.workload]
    census = [op for op in ALL_OPS if op not in ops] if args.trace else []

    cp, stamp = build()
    in_dir, in_stats, gen_s = inputs.ensure(args.seed, CACHE / "inputs")
    oracle = Oracle(ROOT, in_dir, Path(str(in_dir) + ".oracle"))

    work = SCRATCH / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    attempted, failures, gate_s, oracle_s = 0, [], 0.0, {}
    jvm, end, gone = None, None, set()
    try:
        started = time.monotonic()
        jvm = Jvm(cp, ["--inputs", str(in_dir), "--work", str(work),
                       "--workload", args.workload, "--ops", ",".join(ops),
                       "--cores", str(CORES), "--trace", str(args.trace),
                       "--plant", args.plant or "", "--census", ",".join(census)],
                  work)
        jvm.read("ready")
        cold = jvm.ask("pass cold cold", "pass")
        setup_s = time.monotonic() - started
        sqls = json.loads((work / "oracle_sql.json").read_text())

        def gate(pass_id, results):
            nonlocal attempted, gate_s
            t0 = time.monotonic()
            for r in results:
                attempted += 1
                cause = r["error"]
                if cause is None:
                    if r["name"] not in sqls:
                        cause = "no oracle SQL registered"
                    else:
                        try:
                            o0 = time.monotonic()
                            want = oracle.expected(r["name"], sqls[r["name"]])
                            oracle_s[r["name"]] = (oracle_s.get(r["name"], 0.0) +
                                                   time.monotonic() - o0)
                            got = oracle.actual(r["dir"])
                            if got != want:
                                cause = (f"oracle mismatch: {got[1]} rows written, "
                                         f"{want[1]} expected, digests differ")
                        except Exception as e:  # noqa: BLE001 - recorded as the cause
                            cause = f"{type(e).__name__}: {e}"
                if cause is not None:
                    failures.append({"op": r["name"], "pass": pass_id, "cause": cause})
            shutil.rmtree(work / "out" / pass_id, ignore_errors=True)
            gate_s += time.monotonic() - t0

        gate("cold", cold["ops"])
        timed, traced, untraced = [], [], []
        for i, kind in enumerate(pass_kinds(args.workload, args.seconds, args.trace)):
            r = jvm.ask(f"pass p{i} {kind}", "pass")
            gate(r["id"], r["ops"])
            timed.append(r)
            (traced if kind == "traced" else untraced).append(r)
        census_res = []
        if census:
            c = jvm.ask("census census", "census")
            census_res = c["ops"]
            gate("census", census_res)
        end = jvm.ask("end", "end")
        spans = span_summary(work / "spans.jsonl")
    finally:
        if jvm:
            jvm.close(graceful=end is not None)
            # files the JVM deletes on exit were not left behind
            gone = {p for p in (end or {}).get("leftovers", []) if not (work / p).exists()}
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        for name, k in end["kernels"].items():
            attempted += 1
            if k["mismatches"]:
                failures.append({"op": f"kernel.{name}", "pass": "kernels",
                                 "cause": f"{k['mismatches']} of {k['rows']} rows differ "
                                          f"from the built-in form"})

    walls = [p["wall_s"] for p in (untraced if not args.trace else timed)]
    tail_s, tail_pct = tail(walls)
    # paths left behind after the cold pass (by the timed passes, the census,
    # the kernels and the LSH stats) that outlive the JVM; the cold pass also
    # extracts native libraries, which are not leaks
    leaked = sorted(set(end["leftovers"]) - set(cold["leftovers"]) - gone)
    if args.trace:
        values = layer_metrics(traced, untraced, census_res, end, leaked, ops)
    else:
        values = {
            "setup_s": setup_s,
            "pass_p50_s": statistics.median(walls),
            "retained_heap_mb": max(p["heap_mb"] for p in [cold] + timed),
        }
    missing = [k for k in wanted if values.get(k) is None]
    if missing and not failures:
        raise Fatal(f"metrics not produced: {missing}")

    git = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                         capture_output=True, text=True)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": ops, "census": census, "passes": len(walls),
        "pass_tail_s": tail_s, "pass_tail_percentile": tail_pct,
        "cpu_s_per_pass": statistics.median(p["cpu_s"] for p in timed),
        "pass_walls_s": walls,
        "op_p50_s": {op: statistics.median(o["s"] for p in timed for o in p["ops"] if o["name"] == op)
                     for op in ops},
        "failed_frac": len(failures) / attempted,
        "failures": failures,
        "inputs": {t: in_stats[t] for t in TABLES_READ[args.workload]},
        "input_gen_s": gen_s, "oracle_s": oracle_s, "gate_s": gate_s,
        "setup_s": setup_s,
        "host": {"cores": end["cores"], "heap_max_mb": end["heap_max_mb"],
                 "jdk": end["jdk"], "spark": end["spark"], "cal_s": end["cal"],
                 "git_commit": git.stdout.strip() if git.returncode == 0 else None,
                 "source_stamp": stamp},
        "leaked_paths": leaked,
    }
    if args.trace:
        context["trace"] = {
            "traced_pass_p50_s": statistics.median(p["wall_s"] for p in traced),
            "untraced_pass_p50_s": statistics.median(p["wall_s"] for p in untraced),
            "kernels": end["kernels"], "lsh": end["lsh"], "spans": spans}
    print(json.dumps({"context": context}))
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in wanted if values.get(k) is not None},
    }
    print(json.dumps(result), flush=True)
    for f in failures:
        log(f"FAILED {f['op']} (pass {f['pass']}): {f['cause']}")
    return 1 if failures else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", default=None,
                    help="throw:<op> or wrong:<op> (the benchmark's own tests)")
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        sys.exit(run(args))
    except Fatal as e:
        log(f"error: {e}")
        sys.exit(2)


if __name__ == "__main__":
    main()
