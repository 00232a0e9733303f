#!/usr/bin/env python3
"""Schemamap benchmark: one seeded, closed-loop, single-client run of one
workload, from the root of a checkout:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the benchmark from source (perfbench/build.py),
runs perfbench.Main in a fresh JVM with a pinned heap and a private
warehouse and temp directory under .bench_build/runs/, turns its raw
measurements into metrics, and prints as its last stdout line one JSON
object {correct, attempted, failed, metrics}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Lines before it name every figure with its unit and sample count, and
report the trend, contention and planted-answer checks.

--break CHECK|all perturbs the expected value of a planted-answer check,
to show that the check fails on a wrong answer. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("catalog_session", "corpus_session")
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Ops of each workload; sessions.<op>.* counters exist for each. Writes
# change stored state (the SMO, the import sink, a store); reads do not.
WRITES = {"catalog_session": ("refresh", "import", "reject"),
          "corpus_session": ("ingest",)}
READS = {"catalog_session": ("status", "columns", "mde", "whatif"),
         "corpus_session": ("curate", "bm25")}
OPS = WRITES["catalog_session"] + READS["catalog_session"] + \
    WRITES["corpus_session"] + READS["corpus_session"]
# Per-op figures printed by name for each workload: (metric, op).
NAMED = {
    "catalog_session": [("refresh_p50_s", "refresh"), ("status_p50_s", "status"),
                        ("columns_p50_s", "columns"), ("mde_p50_s", "mde"),
                        ("whatif_p50_s", "whatif"), ("import_p50_s", "import"),
                        ("reject_p50_s", "reject")],
    "corpus_session": [("curate_p50_s", "curate"), ("bm25_batch_p50_s", "bm25"),
                       ("ingest_p50_s", "ingest")],
}
# Throughput: items of one op per second of the workload's write ops.
RATES = {"catalog_session": ("import_rows_per_s", "import", "rows/s"),
         "corpus_session": ("ingest_docs_per_s", "ingest", "docs/s")}
# Per-layer time metrics: span name -> metric stem. These spans' self time
# splits into job time (exec) and the rest (plan).
SPLIT = {"smo": "smo", "status": "status", "scoring": "scoring"}
PLAIN = ["catalog.whatif_build", "concepts.apply", "etl.stage", "etl.validate",
         "etl.sink", "etl.rules", "etl.bookkeeping", "operators.pairs",
         "operators.clusters", "operators.keep", "operators.bm25",
         "operators.cms_append", "streaming.prepare", "streaming.commit"]
# Per-op counters and how they fold over the traced ops.
COUNTERS = {"etl.cached_mb": (max, "MB"), "etl.sink_bytes_per_row": (statistics.median, "B"),
            "operators.cms_files_per_batch": (statistics.median, "count"),
            "operators.pairs": (statistics.median, "count"),
            "operators.clusters": (statistics.median, "count")}
SESSIONS = ("jobs", "stages", "tasks", "task_s", "shuffle_write_mb", "spill_mb", "skew")
TREND_LIMIT = 0.15
CONTENDED_CORES = 0.5


def log(msg):
    print(msg, flush=True)


def run_jvm(jar, args, run_dir):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # Class-data sharing: the first run of a checkout writes an archive of
    # every class it loaded, later runs map it, which saves seconds of
    # JVM and Spark start-up per run. It changes no timed figure: the
    # timed ops run long after every class is loaded.
    archive = os.path.join(os.path.dirname(jar), "classes.jsa")
    fresh = f"{archive}.tmp{os.getpid()}"
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.isfile(archive)
           else f"-XX:ArchiveClassesAtExit={fresh}")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", cds,
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", jar + os.pathsep + jars, "perfbench.Main"] + args +
           ["--dir", run_dir])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if os.path.isfile(fresh):
        if code == 0:
            os.replace(fresh, archive)
        else:
            os.remove(fresh)
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-4000:]
        raise SystemExit(f"perfbench: JVM run failed ({code}):\n{tail}")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def percentile_line(xs):
    """Sample count, and the highest percentile with at least ten samples
    above it (none when there are fewer than 11 samples)."""
    xs = sorted(xs)
    n = len(xs)
    s = f"n={n}"
    if n >= 11:
        p = int(100 * (n - 10) / n)
        s += f" p{p}={xs[max(0, int(n * p / 100) - 1)]:.4f}"
    return s


def covered(intervals, a, b):
    """Length of [a, b] covered by the union of intervals."""
    total, cur = 0.0, a
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, b)
        if e > s:
            total += e - s
            cur = e
    return total


def dur(s):
    return s["end"] - s["start"]


def per_cycle(raw, timed, ops):
    """The time a cycle spends in `ops`: each op's median over the timed
    phase, times the number of its calls per cycle, summed. Medians are
    taken per op type, so ops of different speeds are never pooled, and
    with three or more samples one slow call of an op leaves its median
    alone."""
    total = 0.0
    for op in ops:
        xs = [dur(s) for s in timed if s["op"] == op]
        total += statistics.median(xs) * raw["ops"].count(op)
    return total


def end_to_end(raw, timed):
    """The gated figures: set-up time, the per-cycle read and write time a
    user waits on, and the live heap."""
    w = raw["workload"]
    setups = [dur(s) for s in raw["samples"] if s["phase"] == "setup"]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "read_p50_s": (per_cycle(raw, timed, READS[w]), "s"),
        "write_p50_s": (per_cycle(raw, timed, WRITES[w]), "s"),
        "live_heap_peak_mb": (max(raw["live_heap_mb"]), "MB"),
    }


def report(raw, timed):
    """Human-readable lines: every named figure with unit and sample count;
    the trend, contention and planted-answer checks; failures."""
    w = raw["workload"]
    by = {}
    for s in timed:
        by.setdefault(s["op"], []).append(dur(s))
    log(f"# workload={w} seed={raw['seed']} trace={int(raw['trace'])} "
        f"cycles={raw['cycles']} ops/cycle={','.join(raw['ops'])} "
        f"input_fingerprint={raw['fingerprint']} "
        f"session_start_s={raw['session_start_s']:.3f} heap_mb={raw['heap_max_mb']:.0f}")
    for name, op in NAMED[w]:
        log(f"metric {name}={statistics.median(by[op]):.4f} s {percentile_line(by[op])}")
    name, op, unit = RATES[w]
    items = sum(s["items"] for s in timed if s["op"] == op)
    busy = sum(dur(s) for s in timed if s["op"] in WRITES[w])
    log(f"metric {name}={items / busy:.4f} {unit} n={len(by[op])}")
    attempted = len(raw["samples"])
    failed = sum(1 for s in raw["samples"] if not s["ok"])
    log(f"metric failed_op_share={failed / attempted:.4f} ratio n={attempted}")
    for op, xs in sorted(by.items()):
        h = len(xs) // 2
        a, b = statistics.median(xs[:h]), statistics.median(xs[len(xs) - h:])
        flag = "TRENDING" if abs(b / a - 1) > TREND_LIMIT else "flat"
        log(f"# trend {op}: first-half p50 {a:.4f} s, second-half p50 {b:.4f} s, "
            f"ratio {b / a:.3f} {flag}")
    t0, t1 = raw["timed"]
    other = max(0.0, raw["other_cpu_s"] / (t1 - t0))
    steal = raw["steal_s"] / (t1 - t0)
    flag = "CONTENDED" if other + steal > CONTENDED_CORES else "quiet"
    log(f"# contention: over the timed phase other processes used {other:.2f} "
        f"cores and the hypervisor stole {steal:.2f}, loadavg {raw['loadavg']:.2f}, "
        f"gc {raw['gc_s']:.2f} s {flag}")
    names = sorted({c["name"] for c in raw["checks"]})
    log("# checks (failed/run): " + ", ".join(
        f"{n} {sum(1 for c in raw['checks'] if c['name'] == n and not c['ok'])}/"
        f"{sum(1 for c in raw['checks'] if c['name'] == n)}" for n in names))
    for s in raw["samples"]:
        if not s["ok"]:
            log(f"# FAILED {s['op']} ({s['phase']} cycle {s['cycle']}): {s['error'][:240]}")
    return attempted, failed


def per_layer(raw, timed):
    """Per-layer figures from the spans, counters and listener records of
    the timed cycles; times are seconds per cycle."""
    traced_ops = {s["id"]: s for s in timed}
    n_cycles = raw["cycles"]
    sess = {x["op_id"]: x for x in raw["sessions"]}
    spans = raw["spans"]
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)

    def self_time(sp):
        return (sp["end"] - sp["start"]) - sum(c["end"] - c["start"]
                                              for c in children.get(sp["id"], []))

    m = {}
    for sp_name, metric in SPLIT.items():
        plan = exe = 0.0
        for sp in spans:
            if sp["name"] == sp_name and sp["op_id"] in traced_ops:
                jobs = sess.get(sp["op_id"], {}).get("job_intervals", [])
                e = covered(jobs, sp["start"], sp["end"])
                exe += e
                plan += self_time(sp) - e
        m[f"{metric}.plan_s"] = (plan / n_cycles, "s")
        m[f"{metric}.exec_s"] = (exe / n_cycles, "s")
    for name in PLAIN:
        t = sum(self_time(sp) for sp in spans
                if sp["name"] == name and sp["op_id"] in traced_ops)
        m[f"{name}_s"] = (t / n_cycles, "s")
    loads = [sp["end"] - sp["start"] for sp in spans if sp["name"] == "catalog.load"]
    m["catalog.load_s"] = (statistics.median(loads) if loads else 0.0, "s")
    counters = {}
    for c in raw["counters"]:
        if c["op_id"] in traced_ops:
            for k, v in c["values"].items():
                counters.setdefault(k, []).append(v)
    for k, (fold, unit) in COUNTERS.items():
        m[k] = (fold(counters[k]) if k in counters else 0.0, unit)
    for op in OPS:
        rows = [sess[i] for i, s in traced_ops.items() if s["op"] == op and i in sess]
        for k in SESSIONS:
            unit = {"jobs": "count", "stages": "count", "tasks": "count",
                    "task_s": "s", "skew": "ratio"}.get(k, "MB")
            m[f"sessions.{op}.{k}"] = (
                statistics.median(r[k] for r in rows) if rows else 0.0, unit)
    m["sessions.gc_s"] = (raw["gc_s"] / raw["cycles"], "s")
    t0, t1 = raw["timed"]
    m["trace.overhead_pct"] = (100 * raw["listener_s"] / (t1 - t0), "%")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--break", dest="brk", default=None)
    a = ap.parse_args()

    jar = build.build()
    run_dir = os.path.abspath(os.path.join(
        build.BUILD_ROOT, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.brk:
        args += ["--break", a.brk]
    try:
        raw = run_jvm(jar, args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [s for s in raw["samples"] if s["phase"] == "timed"]
    attempted, failed = report(raw, timed)
    if a.trace == 0:
        metrics = end_to_end(raw, timed)
        for k, (v, u) in metrics.items():
            log(f"metric {k}={v:.4f} {u}")
    else:
        # traced figures, to compare with an untraced run of the same seed
        for k in ("read_p50_s", "write_p50_s"):
            log(f"# traced {k}={end_to_end(raw, timed)[k][0]:.4f} s")
        metrics = per_layer(raw, timed)
    correct = failed == 0 and bool(raw["checks"]) and all(c["ok"] for c in raw["checks"])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
