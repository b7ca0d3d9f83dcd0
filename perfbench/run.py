#!/usr/bin/env python3
"""The repository's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload news_pipeline --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark driver (perfbench/build.sbt, which compiles the root build's
sources) and reuses the build while no source changes. Each run generates
its input from the seed (perfbench/gen.py), runs the workload in a fresh
JVM as one closed-loop client (perfbench/src: graft.perfbench.Driver),
checks the outputs (oracled ops with tools/check_oracle.py, rows-only ops
for non-empty, repeatable results) and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything a run leaves behind is under .bench_work/: the
full record of each run (spans, op samples, the q01 probe, input sizes) is
.bench_work/results/<workload>-seed<n>-trace<t>.json, and a run whose
output check failed keeps its inputs, outputs and JVM log in
.bench_work/runs/.
"""
import argparse
import glob
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

# op -> the module that owns its function in SparkEntry.queries.
# --seconds becomes a whole number of warm passes at the workload's nominal
# warm-pass time (4 cores), so that every run of a workload does the same
# work.
WORKLOADS = {
    "news_pipeline": dict(
        ops=[("q226", "Pipeline"), ("q32", "Dedup"), ("q34", "Dedup"),
             ("q37", "Dedup"), ("q27", "TextAnalysis")],
        hooks=["Dedup", "TextAnalysis"], tables=["documents", "embeddings"],
        pass_s=6.0),
    "relational_events": dict(
        ops=[("q01", "Relational"), ("q03", "Relational"), ("q10", "Relational"),
             ("q22", "Relational"), ("q104", "EventAnalytics"),
             ("q106", "EventAnalytics"), ("q46", "Events")],
        hooks=[], tables=["region", "nation", "customer", "supplier", "part",
                          "orders", "lineitem", "events"],
        pass_s=4.7),
}
MODULES = ["Pipeline", "Dedup", "TextAnalysis", "Relational", "EventAnalytics",
           "Events"]
# the (name, s) pairs of Dedup.prewarmShared and TextAnalysis.prewarmShared
SHARED = ["simhash_bands", "fuzzy_pairs", "fuzzy_labels", "logit_features",
          "logit_weights", "quality_score", "unigram_counts", "bigram_counts",
          "srcterm_counts", "bpe_merges", "dawid_skene"]
JVM_TIMEOUT_S = 150
CHECK_TIMEOUT_S = 20

JDK17_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


_children = set()


def _stop_children(signum, _frame):
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    sys.exit(128 + signum)


def run_proc(cmd, timeout, **kw):
    """subprocess.run in a process group of its own, so that a timeout, or
    a SIGTERM to this script, stops the whole tree (sbt's launcher script
    and its JVM, say), not just its head."""
    with subprocess.Popen(cmd, start_new_session=True, **kw) as p:
        _children.add(p.pid)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        finally:
            _children.discard(p.pid)
    return subprocess.CompletedProcess(cmd, p.returncode, out)


# ------------------------------------------------------------------ build
def source_stamp(root):
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for d in ("src/main", "perfbench/src"):
        files += sorted(os.path.relpath(p, root) for p in
                        glob.glob(os.path.join(root, d, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile with sbt unless the last build saw the same sources; return
    the runtime classpath."""
    bdir = os.path.join(work, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp_file = os.path.join(bdir, "stamp")
    cp_file = os.path.join(bdir, "classpath")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and driver with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(bdir, "sbt.log"), "w") as logf:
        p = run_proc(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"], 840,
            cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=logf, text=True)
        logf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        die(f"sbt build failed (see {bdir}/sbt.log)")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- metrics
def median(xs):
    return statistics.median(xs) if xs else 0.0


def seconds(span):
    return (span["end"] - span["start"]) / 1e3


def union_ms(intervals, lo, hi):
    """Length of the union of [s, e] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


PER_LAYER = (
    [(f"phase.{n}", u) for n, u in [
        ("construct_s", "s"), ("construct_jobs", "count"),
        ("construct_driver_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
        ("exec_jobs", "count")]] +
    [(f"exec.{n}", u) for n, u in [
        ("tasks", "count"), ("task_s", "s"), ("core_util", "ratio"),
        ("sched_wait_s", "s"), ("input_mb", "MB"), ("shuffle_write_mb", "MB"),
        ("shuffle_read_mb", "MB"), ("gc_s", "s")]] +
    [(f"{m}.{n}", u) for m in MODULES for n, u in [
        ("wall_s", "s"), ("construct_s", "s"), ("exec_s", "s"),
        ("jobs", "count"), ("task_s", "s")]] +
    [(f"shared.{s}.build_s", "s") for s in SHARED] +
    [("storage.rdd_blocks", "count"), ("ambient.q01_s", "s"),
     ("trace.overhead_ratio", "ratio")])


def end_to_end(rec):
    warm = [p for p in rec["passes"][1:] if not p["traced"]]
    by_op = {}
    for p in warm:
        for o in p["ops"]:
            by_op.setdefault(o["op"], []).append(seconds(o))
    # each op's median over the warm passes, so that one slow sample of one
    # op does not move a run's figure
    ops = sorted(median(v) for v in by_op.values())
    return {
        "setup_s": (rec["setup_s"], "s"),
        "first_pass_s": (seconds(rec["passes"][0]), "s"),
        "pass_s": (median([seconds(p) for p in warm]), "s"),
        "op_p50_s": (median(ops), "s"),
        # a run holds 10 to 21 warm op samples: too few for a high percentile
        # with ten samples beyond it, so the tail is the slowest op (p100)
        "op_tail_s": (ops[-1], "s"),
        "retained_mb": (rec["retained_heap_mb"], "MB"),
    }, {"op_samples": sum(map(len, by_op.values())), "op_tail_percentile": 100,
        "warm_passes": len(warm)}


def per_layer(rec):
    cores = rec["cores"]
    jobs_by_op = {}
    for j in rec["jobs"]:
        _, pidx, k, phase = j["group"].split(":")
        jobs_by_op.setdefault((int(pidx), int(k)), []).append(dict(j, phase=phase))
    per_pass = []
    for p in rec["passes"]:
        if not p["traced"]:
            continue
        m = {}

        def add(name, v):
            m[name] = m.get(name, 0.0) + v
        for k, o in enumerate(p["ops"]):
            js = jobs_by_op.get((p["index"], k), [])
            cjobs = [j for j in js if j["phase"] == "construct"]
            xjobs = [j for j in js if j["phase"] == "exec"]
            construct = o["constructEnd"] - o["start"]
            first_exec = min([j["start"] for j in xjobs], default=o["end"])
            plan = max(0.0, min(first_exec, o["end"]) - o["constructEnd"])
            execute = o["end"] - o["constructEnd"] - plan
            add("phase.construct_s", construct / 1e3)
            add("phase.construct_jobs", len(cjobs))
            add("phase.construct_driver_s", (construct - union_ms(
                [(j["start"], j["end"]) for j in cjobs],
                o["start"], o["constructEnd"])) / 1e3)
            add("phase.plan_s", plan / 1e3)
            add("phase.exec_s", execute / 1e3)
            add("phase.exec_jobs", len(xjobs))
            mod = o["module"]
            add(f"{mod}.wall_s", seconds(o))
            add(f"{mod}.construct_s", construct / 1e3)
            add(f"{mod}.exec_s", (o["end"] - o["constructEnd"]) / 1e3)
            add(f"{mod}.jobs", len(js))
            for j in js:
                add(f"{mod}.task_s", j["taskMs"] / 1e3)
                add("exec.tasks", j["tasks"])
                add("exec.task_s", j["taskMs"] / 1e3)
                add("exec.sched_wait_s", j["schedWaitMs"] / 1e3)
                add("exec.input_mb", j["inputBytes"] / 2**20)
                add("exec.shuffle_write_mb", j["shuffleWriteBytes"] / 2**20)
                add("exec.shuffle_read_mb", j["shuffleReadBytes"] / 2**20)
                add("exec.gc_s", j["gcMs"] / 1e3)
        m["exec.core_util"] = m.get("exec.task_s", 0.0) / (cores * seconds(p))
        per_pass.append(m)

    out = {n: median([m.get(n, 0.0) for m in per_pass]) for n, _ in PER_LAYER
           if not n.startswith(("shared.", "storage.", "ambient.", "trace."))}
    for s in SHARED:
        out[f"shared.{s}.build_s"] = median(
            [x["s"] for x in rec["shared"] if x["name"] == s])
    out["storage.rdd_blocks"] = rec["rdd_blocks"]
    out["ambient.q01_s"] = median(rec["probe_q01_s"])
    # traced and untraced warm passes of the same run; the job listener is
    # registered only for the traced ones
    warm = rec["passes"][1:]
    out["trace.overhead_ratio"] = (
        statistics.mean(seconds(p) for p in warm if p["traced"]) /
        statistics.mean(seconds(p) for p in warm if not p["traced"]))
    return {n: (out[n], u) for n, u in PER_LAYER}


# ----------------------------------------------------------------- checks
def oracle_check(root, data, check_dir, expected):
    """Run tools/check_oracle.py unchanged; return the ops that did not PASS."""
    p = run_proc([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                  data, check_dir], CHECK_TIMEOUT_S, stdout=subprocess.PIPE,
                 stderr=subprocess.STDOUT, text=True)
    passed = {ln.split()[1] for ln in p.stdout.splitlines() if ln.startswith("PASS ")}
    bad = sorted(set(expected) - passed)
    if bad:
        log("oracle check failed:\n" + p.stdout)
    return bad


def input_sizes(data):
    import pyarrow.parquet as pq
    rows = {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
            for t in gen.TABLES}
    nbytes = sum(os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in gen.TABLES)
    return {"docs": rows["documents"], "rows": sum(rows.values()), "bytes": nbytes,
            "table_rows": rows}


# ------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    w = WORKLOADS[a.workload]

    root = os.getcwd()
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(root, rel)):
            die(f"{rel} not found: run from the root of the repository")
    work = os.path.join(root, ".bench_work")
    cp = build(root, work)

    run_dir = os.path.join(work, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, check_dir, tmp = (os.path.join(run_dir, d) for d in ("data", "check", "tmp"))
    os.makedirs(tmp)
    gen.generate(data, a.seed)

    out = os.path.join(run_dir, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *JDK17_OPENS, "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-cp", cp, "graft.perfbench.Driver",
           "--ops", ",".join(f"{o}:{m}" for o, m in w["ops"]),
           "--hooks", ",".join(w["hooks"]), "--tables", ",".join(w["tables"]),
           "--data", data,
           "--passes", str(max(1, round(a.seconds / w["pass_s"]))),
           "--trace", str(a.trace), "--check", check_dir, "--out", out]
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        try:
            p = run_proc(cmd, JVM_TIMEOUT_S, cwd=run_dir, stdout=logf, stderr=logf)
        except subprocess.TimeoutExpired:
            die(f"driver JVM ran over {JVM_TIMEOUT_S} s (log: {logf.name})")
    if p.returncode != 0 or not os.path.exists(out):
        die(f"driver JVM failed with code {p.returncode} (log: {run_dir}/jvm.log)")
    with open(out) as f:
        rec = json.load(f)
    log(f"driver JVM took {time.time() - t0:.1f} s")

    bad = oracle_check(root, data, check_dir, rec["oracle_checked"])
    failed = rec["failed"] + len(bad)
    for e in rec["errors"]:
        log(e)
    metrics, detail = (per_layer(rec), {}) if a.trace else end_to_end(rec)
    result = {"correct": failed == 0, "attempted": rec["attempted"],
              "failed": failed,
              "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}

    sizes = input_sizes(data)
    detail.update(workload=a.workload, seed=a.seed, trace=a.trace,
                  ops=w["ops"], input=sizes, oracle_failed=bad,
                  ops_failed_ratio=failed / rec["attempted"],
                  ambient_q01_s=median(rec["probe_q01_s"]),
                  result=result, record=rec)
    res_dir = os.path.join(work, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(detail, f)
    if failed == 0:  # a failed run keeps its inputs, outputs and log
        shutil.rmtree(run_dir)
    log(f"input {sizes['docs']} docs, {sizes['rows']} rows, {sizes['bytes']} bytes; "
        f"ambient q01 {detail['ambient_q01_s']:.3f} s; "
        + " ".join(f"{k}={v}" for k, v in detail.items()
                   if k in ("op_samples", "op_tail_percentile", "warm_passes")))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
