#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload pipeline_split --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the harness together
with graft's sources (sbt, offline); later runs reuse the build while the
sources are unchanged. The run generates the seeded inputs, starts one JVM
that drives one `local[4]` Spark session in a closed loop with one client,
checks every op's output, and prints as its last line one JSON object:
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.

analytics_cold reads the read-only scale-factor tables in
$GRAFT_BENCH_SF_DIR (default ~/testdata/sf0.1).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("write_flag", "pipeline_split", "analytics_cold")
# analytics_cold, one query per group: an iterative build, a job-heavy
# model build and an executor-bound operator
COLD_QUERIES = ("q_bpe_train", "q_bm25", "q_curation_pipeline2")
SF_DIR = os.environ.get("GRAFT_BENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
BUILD = os.path.join(HERE, "target")
# time the JVM may take beyond --seconds: start, set-up, the loop's last
# iteration and, traced, its replay
JVM_ALLOWANCE_S = 130
JAVA_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + ["-Xmx3g"]

# the end-to-end metrics BENCHMARK.json bounds: each is steady from run to
# run on a host whose speed wanders (a ratio of ops interleaved in one run, a
# job count, and set-up, whose bound is on its median)
END_TO_END = {"setup_s": "s", "overhead_x": "ratio", "jobs_per_op": "count"}
# reported on every run, not bounded: absolute op times follow the host's
# speed, which moves them by more than the largest bound
TIMES = {"op_p50_s": "s", "rows_per_s": "rows/s", "pass_s": "s"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compiles harness and graft when their sources changed; returns the
    runtime classpath."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "perfbench.stamp")
    cp_file = os.path.join(BUILD, "perfbench.classpath")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    # an incremental build starts only from a finished one: the stamp goes
    # first, so a build cut short leaves none and the next starts clean
    clean = not os.path.exists(stamp)
    if not clean:
        os.remove(stamp)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(HERE, ".work", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             *(["clean"] if clean else []), "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=700)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1]


def run_jvm(classpath, args, work, deadline):
    out = os.path.join(work, "raw.json")
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--lake", os.path.join(work, "lake"),
           "--sf", SF_DIR, "--queries", ",".join(COLD_QUERIES), "--out", out]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("JVM exceeded its time limit")
        finally:
            # on every way out, this one included, no JVM outlives the run
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-30:]
        fail("JVM failed:\n" + "\n".join(tail))
    with open(out) as f:
        return json.load(f), launched


def expect(metrics, manifest):
    """Mismatches between verdict metrics and the planted truth."""
    bad = []
    want = {"row_count": manifest["rows"]}
    want.update({f"violations.{k}": v for k, v in manifest["planted"].items()})
    got = {k: v for k, v in metrics.items() if k.startswith(("row_count", "violations."))}
    for k, v in got.items():
        w = want.get(k, manifest["duplicate_keys"] if k.startswith("violations.unique_") else 0)
        if v != w:
            bad.append(f"{k}={v} expected {w}")
    bad += [f"{k} missing" for k in want if k not in got]
    return bad


def check_op(workload, op, manifest):
    """Failed output checks of one governed op (empty when it passed)."""
    if "error" in op or "plain_error" in op:
        return [op.get("error") or op.get("plain_error")]
    bad = expect(op["metrics"], manifest)
    rows, violating = manifest["rows"], manifest["violating_rows"]
    if workload == "write_flag":
        if op["flagged_rows"] != violating:
            bad.append(f"flagged rows {op['flagged_rows']} expected {violating}")
        if op["flagged_by_rule"] != manifest["planted"]:
            bad.append("flags per rule differ from the planted rows")
        if op["out_rows"] != rows:
            bad.append(f"output rows {op['out_rows']} expected {rows}")
    else:
        bad += ["read " + b for b in expect(op["read_metrics"], manifest)]
        if (op["valid_rows"], op["reject_rows"]) != (rows - violating, violating):
            bad.append(f"valid/reject {op['valid_rows']}/{op['reject_rows']} "
                       f"expected {rows - violating}/{violating}")
        if not op["schema_ok"]:
            bad.append("aligned read schema differs from the contract")
    return bad


def setup_seconds(raw, gen_s, launched):
    """Process start to the first timed op: input generation, then JVM and
    Spark session start, contract store, governance wiring and warm-up."""
    return gen_s + raw["timed_start_ms"] / 1000.0 - launched


def governed_metrics(raw, manifest):
    ops = raw["ops"]
    g = [o["governed_s"] for o in ops]
    p = [o["plain_s"] for o in ops]
    tail, pct, n = stats.tail(g)
    return {
        "op_p50_s": stats.median(g),
        "op_tail_s": tail,
        # source rows of the governed ops per wall second of the timed loop
        "rows_per_s": manifest["rows"] * len(g) / raw["loop_s"],
        "overhead_x": stats.median(g) / stats.median(p),
        "jobs_per_op": stats.median([raw["jobs"].get(f"op-{o['i']}", 0) for o in ops]),
        "pass_s": stats.median([a + b for a, b in zip(g, p)]),
    }, (pct, n)


def cold_metrics(raw, doc_rows):
    passes = raw["passes"]
    cold = [o["cold_s"] for ps in passes for o in ps["ops"]]
    tail, pct, n = stats.tail(cold)
    pass_s = [sum(o["cold_s"] for o in ps["ops"]) for ps in passes]
    # the median of a mix of queries jumps between them as the op count
    # changes: take each query's median, then their geometric mean
    per_query = [stats.median([o["cold_s"] for ps in passes for o in ps["ops"] if o["query"] == q])
                 for q in raw["queries"]]
    op_p50 = math.prod(per_query) ** (1.0 / len(per_query))
    return {
        "op_p50_s": op_p50,
        "op_tail_s": tail,
        # documents rows of the cold queries per wall second of the timed loop
        "rows_per_s": doc_rows * len(cold) / raw["loop_s"],
        # total cold time of the run over the total of the warm reruns: one
        # pass holds too few seconds of each for a median over passes
        "overhead_x": sum(cold) / sum(o["warm_s"] for ps in passes for o in ps["ops"]),
        # Spark jobs of one cold query, construction and execution: the mean
        # over a pass's queries, median over passes
        "jobs_per_op": stats.median([
            sum(raw["jobs"].get(f"{o['query']}-{o['pass']}/{step}", 0)
                for o in ps["ops"] for step in ("construct", "execute")) / len(ps["ops"])
            for ps in passes]),
        "pass_s": stats.median(pass_s),
    }, (pct, n)


GOVERNED_LAYERS = (
    "spark.retained_mb", "quality.prescan_s", "quality.specs", "quality.observe_cpu_s", "io.source_scans_per_op",
    "io.jobs_per_op", "io.bytes_written_mb", "strategies.flag_s", "strategies.write_requests",
    "align.casts", "align.scan_s")
SPARK_LAYERS = (
    "spark.plan_ms", "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_only_s",
    "spark.core_busy", "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb", "spark.input_mb")
SPAN_LAYERS = tuple(m for m, _, _ in stats.SPAN_METRICS) + ("contracts.store_calls",)
ENTRY_LAYERS = ("construct_s", "construct_jobs", "execute_s", "execute_jobs", "retained_mb")


def layer_names():
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    return (GOVERNED_LAYERS + SPAN_LAYERS + SPARK_LAYERS +
            ("io.files_written", "strategies.rows_out_per_in", "trace.overhead_s",
             "trace.replay_ratio") +
            tuple(f"entry.{q}.{m}" for q in COLD_QUERIES for m in ENTRY_LAYERS))


def unit_of(name):
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_s", "s"), ("core_busy", "ratio"),
                         ("_per_in", "ratio"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def governed_layers(raw, manifest, work, target):
    ops = raw["traced_ops"]
    per_op = []
    for o in ops:
        m = {k: o[k] for k in GOVERNED_LAYERS + SPARK_LAYERS}
        m.update(stats.span_layers(raw["spans"], f"op-{o['i']}", f"replay-{o['i']}"))
        m["strategies.rows_out_per_in"] = o["io.records_written"] / manifest["rows"]
        m["trace.replay_ratio"] = o["replay_s"] / o["governed_s"]
        per_op.append(m)
    out = {k: stats.median([m[k] for m in per_op]) for k in per_op[0]}
    out["io.files_written"] = len(glob.glob(os.path.join(work, "lake", target, "1.0.0", "**", "*.parquet"),
                                            recursive=True))
    # traced iterations come in pairs: the untraced iteration of the same
    # order of governed and plain op sits two positions away
    out["trace.overhead_s"] = stats.paired_overhead({o["i"]: o["governed_s"] for o in raw["ops"]},
                                                    {o["i"]: o["governed_s"] for o in ops}, gap=2)
    return out


def cold_layers(raw):
    ops = [o for ps in raw["traced_passes"] for o in ps["ops"]]
    out = {k: stats.median([o[k] for o in ops]) for k in SPARK_LAYERS}
    out["spark.retained_mb"] = stats.median([o["retained_mb"] for o in ops])
    for q in raw["queries"]:
        mine = [o for o in ops if o["query"] == q]
        for m in ENTRY_LAYERS:
            out[f"entry.{q}.{m}"] = stats.median([o[m] for o in mine])
    def per_query(key):
        return {ps["pass"]: sum(o["cold_s"] for o in ps["ops"]) / len(raw["queries"]) for ps in raw[key]}
    out["trace.overhead_s"] = stats.paired_overhead(per_query("passes"), per_query("traced_passes"), gap=1)
    out["trace.replay_ratio"] = stats.median([(o["construct_s"] + o["execute_s"]) / o["cold_s"]
                                              for o in ops])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    args = ap.parse_args()
    # a terminated run unwinds like a failed one: its JVM is stopped and
    # its work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala) are not in this checkout", 3)
    if args.workload == "analytics_cold" and not os.path.isdir(SF_DIR):
        fail(f"scale-factor tables not found in {SF_DIR}", 3)
    classpath = build()

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        manifest = gen.generate(args.workload, args.seed, os.path.join(work, "lake"))
        gen_s = time.time() - t0
        raw, launched = run_jvm(classpath, args, work, time.time() + args.seconds + JVM_ALLOWANCE_S)
        failures = {}  # failed op -> reasons
        if args.workload == "analytics_cold":
            for w in raw["warmup"]:
                why = w.get("error") or (oracle.compare(os.path.join(work, "oracle", w["query"]),
                                                        w["oracle"], SF_DIR) if w.get("oracle") else
                                         "no oracle registered")
                if why:
                    failures[f"{w['query']} warm-up"] = [f"oracle: {why}"]
            ops = [o for key in ("warmup_passes", "passes", "traced_passes") for ps in raw.get(key, [])
                   for o in ps["ops"]]
            failures.update({f"{o['query']} pass {o['pass']}": [o["error"]] for o in ops if "error" in o})
            attempted = len(ops) + len(raw["warmup"])
            doc_rows = pq.ParquetFile(os.path.join(SF_DIR, "documents.parquet")).metadata.num_rows
            metrics, (pct, n) = cold_metrics(raw, doc_rows)
        else:
            ops = raw["warmup_ops"] + raw["ops"] + raw.get("traced_ops", [])
            failures.update({f"op {o['i']}": bad for o in ops
                             for bad in [check_op(args.workload, o, manifest)] if bad})
            attempted = len(ops)
            metrics, (pct, n) = governed_metrics(raw, manifest)
        metrics["setup_s"] = setup_seconds(raw, gen_s, launched)
        failed = len(failures)

        if args.trace:
            if args.workload == "analytics_cold":
                layers = cold_layers(raw)
            else:
                target = "bench.orders_curated" if args.workload == "pipeline_split" else "bench.lineitem_flagged"
                layers = governed_layers(raw, manifest, work, target)
            result_metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": unit_of(k)}
                              for k in layer_names()}
            with open(os.path.join(HERE, ".work", f"trace-{args.workload}.json"), "w") as f:
                json.dump({"layers": layers, "self_time_s": stats.self_time_table(raw["spans"]),
                           "manifest": manifest}, f, indent=1)
        else:
            result_metrics = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
        for op, reasons in list(failures.items())[:20]:
            print(f"check failed: {op}: {'; '.join(reasons)}")
        print("; ".join(f"{k}={metrics[k]:.4f} {u}" for k, u in TIMES.items()) +
              f"; op_tail_s={metrics['op_tail_s']:.4f} s at p{pct:.1f} over n={n} ops; "
              f"fail_ratio={failed / max(1, attempted):.4f}; manifest={json.dumps(manifest, sort_keys=True)}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": result_metrics}))
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
