#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine and print its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

The engine is built from the checkout's own sources (`src/main`, compiled
together with the harness in `perfbench/`) with sbt in offline mode, once per
source change. Each run then generates its inputs from the seed, starts one
JVM with a SparkSession on local[nproc], and drives it with one closed-loop
client. Every answer is recomputed independently (see workloads.py); a wrong
answer counts its operation as failed. The last stdout line is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it carries the
run's host facts. `--trace 1` reports the per-layer metrics instead of the
end-to-end ones and writes the spans under perfbench/out/.

`--smoke` runs all four workloads at tiny sizes in one JVM, one round each,
with the same checks, and exits non-zero on any failure.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
STAMP = os.path.join(BUILD_DIR, "sources.sha1")
OUT_DIR = os.path.join(HERE, "out")
RUNS_DIR = os.path.join(HERE, "runs")
WORKLOADS = ("search", "analytics", "ingest", "dedup")
JVM_TIMEOUT_S = 165
HEAP = "3g"
# Spark on JDK 17 needs these when the session is started outside
# spark-submit (the same list as the engine's build.sbt).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha1()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(names)]
    for p in files:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline) unless already built from
    these sources. Compile time counts in no metric."""
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories"), "-Dsbt.offline=true",
        "-Dsbt.server.forcestart=false", "-Xmx3g"]))
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            timeout=840).returncode
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log: {log}", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def cores():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


class Job:
    """One harness JVM running workloads in order, in a run directory of its
    own (inputs, index root, catalog, tmpdir, warehouse, Spark local dirs)
    that is removed when the run ends."""

    def __init__(self, names, seed, seconds, trace, smoke):
        import workloads
        self.t0, self.proc = time.time(), None
        self.dir = os.path.join(RUNS_DIR, f"{'-'.join(names)}-seed{seed}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("data", "index", "catalog", "tmp", "warehouse", "local"):
            os.makedirs(os.path.join(self.dir, sub))
        self.plan = {"cores": cores(), "trace": trace,
                     "index_root": os.path.join(self.dir, "index"),
                     "warehouse": os.path.join(self.dir, "warehouse"),
                     "local_dir": os.path.join(self.dir, "local"), "spans_dir": OUT_DIR}
        try:
            prepared = [workloads.prepare(n, seed, os.path.join(self.dir, "data", n),
                                          seconds, smoke) for n in names]
        except BaseException:
            self.close()
            raise
        self.plan["workloads"] = [p for p, _ in prepared]
        self.ctxs = [c for _, c in prepared]
        self.plan_path = os.path.join(self.dir, "plan.json")
        self.out_path = os.path.join(self.dir, "out.json")
        with open(self.plan_path, "w") as fh:
            json.dump(self.plan, fh)
        env = dict(os.environ, GRAFT_INDEX_DIR=self.plan["index_root"],
                   GRAFT_CATALOG_DIR=os.path.join(self.dir, "catalog"),
                   SPARK_LOCAL_DIRS=self.plan["local_dir"])
        cp = ":".join(open(CLASSPATH).read().split("\n"))
        cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}",
               f"-Djava.io.tmpdir={self.dir}/tmp", "-cp", cp, "perfbench.Main",
               self.plan_path, self.out_path]
        self.log = os.path.join(self.dir, "jvm.log")
        self.t_launch = time.time()
        with open(self.log, "w") as fh:
            self.proc = subprocess.Popen(cmd, cwd=self.dir, env=env, stdout=fh,
                                         stderr=subprocess.STDOUT)

    def wait(self, deadline):
        """The harness output, or None (with the log tail on stderr)."""
        try:
            rc = self.proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
            rc = "timeout"
        if rc != 0 or not os.path.exists(self.out_path):
            sys.stderr.write(f"harness JVM exit {rc}\n")
            sys.stderr.write(open(self.log, errors="replace").read()[-6000:])
            return None
        out = json.load(open(self.out_path))
        return [dict(w, **{k: v for k, v in out.items() if k != "workloads"})
                for w in out["workloads"]]

    def close(self):
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        shutil.rmtree(self.dir, ignore_errors=True)


def verify(plan, ctx, result):
    """(attempted, failed, wrong, reasons). An operation fails when it threw
    or its answer is wrong; an answer is wrong when the independent
    recomputation disagrees, or when a repeat's answer differs from the
    checked first answer of the same statement."""
    import workloads
    verdict = workloads.check(plan, ctx, result)
    first_digest, reasons, failed, wrong = {}, {}, 0, 0
    for o in result["ops"]:
        if o["digest"] is not None:
            first_digest.setdefault(o["key"], o["digest"])
    for o in result["ops"]:
        why = o["error"]
        if why is None:
            why = verdict.get(o["key"], "answer not checked")
            if why is None and o["digest"] != first_digest[o["key"]]:
                why = "answer differs from an earlier run of the same statement"
            wrong += why is not None
        if why:
            failed += 1
            reasons.setdefault(o["kind"], why)
    return len(result["ops"]), failed, wrong, reasons


def percentile_note(n):
    return "median only" if n < 40 else f"p{100 * (1 - 10 / n):.0f} has ten samples beyond it"


def smoke():
    """All workloads at tiny sizes, one round each, in one JVM; exit 0 only
    if every operation ran and every answer checked."""
    job = Job(WORKLOADS, 1, 0, False, smoke=True)
    try:
        results = job.wait(job.t0 + JVM_TIMEOUT_S)
        if results is None:
            fail("the harness JVM failed; its log tail is above", 4)
        bad = 0
        for p, c, w in zip(job.plan["workloads"], job.ctxs, results):
            attempted, failed, _, reasons = verify(p, c, w)
            print(json.dumps({"workload": p["name"], "attempted": attempted, "failed": failed,
                              "failures": reasons}))
            bad += failed + (attempted == 0)
    finally:
        job.close()
    sys.exit(1 if bad else 0)


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    sys.path.insert(0, HERE)
    build()

    os.makedirs(OUT_DIR, exist_ok=True)
    if args.smoke:
        smoke()
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    job = Job([args.workload], args.seed, args.seconds, bool(args.trace), smoke=False)
    try:
        results = job.wait(job.t0 + JVM_TIMEOUT_S)
        if results is None:
            fail("the harness JVM failed; its log tail is above", 4)
        w = results[0]
        load_after, ticks_after = os.getloadavg(), cpu_ticks()
        attempted, failed, wrong, reasons = verify(job.plan["workloads"][0], job.ctxs[0], w)
    finally:
        job.close()
    ops = [o for o in w["ops"] if not o["traced"]]
    lat = [o["ms"] for o in ops]
    keys = [o["key"] for r in job.plan["workloads"][0]["rounds"] for o in r["ops"]]
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores(), "loadavg_before": load_before,
        "loadavg_after": load_after,
        # CPU time the hypervisor gave to other guests while this run ran:
        # a run that reads slow beside a high share was slowed from outside
        "cpu_steal_share": round((ticks_after[0] - ticks_before[0]) /
                                 max(ticks_after[1] - ticks_before[1], 1), 4),
        "max_heap_mb": w["max_heap_mb"],
        "java": w["java_version"], "spark": w["spark_version"],
        "rounds": w["rounds"], "samples": len(lat), "latency_tail": percentile_note(len(lat)),
        # one closed-loop client: this is 1000 / the mean latency, so it is
        # reported here and not gated beside the median
        "throughput_qps": round(len(lat) / w["loop_s"], 4) if w["loop_s"] else 0.0,
        "repeated_statement_share": round(1 - len(set(keys)) / max(len(keys), 1), 3),
        "setup_ms": w["setup_ms"], "failures": reasons,
        "timeline_s": {"inputs": round(job.t_launch - job.t0, 3),
                       "jvm_and_session": round(w["session_ready_epoch_ms"] / 1000 - job.t_launch, 3),
                       "workload_setup": round((w["setup_end_epoch_ms"] - w["session_ready_epoch_ms"]) / 1000, 3),
                       "loop": round(w["loop_s"], 3)},
    }
    if args.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            metrics = {m["name"]: {"value": w["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                       for m in json.load(fh)["per_layer"]}
    else:
        metrics = {
            "latency_p50_ms": {"value": statistics.median(lat) if lat else 0.0, "unit": "ms"},
            "setup_s": {"value": w["setup_end_epoch_ms"] / 1000.0 - job.t0, "unit": "s"},
            "retained_heap_mb": {"value": w["retained_heap_mb"], "unit": "MB"},
        }
    report = {"info": info, "ops": [[o["kind"], round(o["ms"], 1), o["traced"]] for o in w["ops"]],
              "layers": w["layers"],
              "result": {"correct": wrong == 0, "attempted": attempted,
                         "failed": failed, "metrics": metrics}}
    tag = f"{args.workload}-seed{args.seed}{'-trace' if args.trace else ''}"
    with open(os.path.join(OUT_DIR, f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"info": info}))
    print(json.dumps(report["result"]))


if __name__ == "__main__":
    main()
