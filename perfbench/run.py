#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

The command builds the program and the benchmark harness (sbt, first run
only), generates the input tables (first run only), makes the workload's
inputs from the seed, runs them in one JVM with one client thread in a
closed loop, checks every operation's output, and prints one JSON line last.
With `--trace 0` that line carries the end-to-end metrics; with `--trace 1`
the per-layer metrics of a traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from oracle import SHAPE_TABLES, Oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
WORKLOADS = ("relational", "ingest")
SF = 0.1  # the scale of the timed runs; --smoke runs at 0.001
RUN_LIMIT_S = 165
BUILD_LIMIT_S = 880

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; the JVM derives them from the traced run
PER_LAYER = {
    "sources.load_calls": "count", "sources.load_s": "s", "sources.load_jobs": "count",
    "metaframe.build_s": "s", "action_s": "s",
    "catalyst.actions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.stages_skipped": "count",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.no_task_s": "s", "spark.core_busy_frac": "ratio",
    **{f"operators.{m}.{k}": u for m in ("Corpus", "Dedup", "Ingest", "other")
       for k, u in (("jobs", "count"), ("task_run_s", "s"))},
    "pins.peak_bytes": "bytes", "pins.blocks_left": "count", "pins.ckpt_files_left": "count",
    "streaming.batches": "count", "streaming.add_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "ingest.batch_first_s": "s", "ingest.batch_last_s": "s", "ingest.batch_growth": "ratio",
    "ingest.compact_s": "s", "ingest.compact_bytes": "bytes", "ingest.accept_frac": "ratio",
    "ingest.store_bytes_per_doc_byte": "ratio",
    "trace.op_coverage": "ratio", "trace.overhead_frac": "ratio",
    "setup.warmup_s": "s", "context.canary_s": "s",
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "src")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with sbt unless this exact
    source tree was built before; returns the JVM classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = _source_stamp()
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building the program and the benchmark (sbt)")
    with open(os.path.join(out, "sbt.log"), "w") as logf:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=logf, text=True,
            timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
        logf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and "classes" in l]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"sbt build failed; see {out}/sbt.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


# ----------------------------------------------------------------- inputs

def doc_tokens(data_dir):
    """Token count of each document, indexed by doc_id."""
    t = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    counts = dict(zip(t.column("doc_id").to_pylist(),
                      (len(x.split()) for x in t.column("text").to_pylist())))
    return [counts[i] for i in range(len(counts))]


def table_rows(data_dir, name):
    return pq.ParquetFile(os.path.join(data_dir, f"{name}.parquet")).metadata.num_rows


# Seeded parameters per shape. Categorical ones cycle through their options
# block by block from a seeded offset, so every run covers them evenly.
# Numeric ones are drawn per operation; where they change how many rows a
# query scans, joins or sorts, their range is kept narrow (about 90-100% of
# the rows), so seeds differ in their answers more than in their cost.
CHOICES = {
    "q2_groupby_agg": {"keys": ["l_returnflag,l_linestatus", "l_linestatus,l_returnflag",
                                "l_returnflag", "l_linestatus"]},
    "q3_join_agg": {"key": ["o_orderpriority", "o_orderstatus"]},
    "q4_dropdup": {"key": ["l_orderkey", "l_partkey", "l_suppkey"]},
    "q5_window_topk": {"pkey": ["l_returnflag", "l_linestatus"]},
    "q6_sort_limit": {"status": ["O", "F", "P"]},
    "q7_distinct": {"col": ["l_suppkey", "l_partkey", "l_orderkey"]},
}
NUMBERS = {
    "q1_filter_project": lambda r: {"t": r.randint(1, 49)},
    "q2_groupby_agg": lambda r: {"d": r.choice([0.09, 0.1])},
    "q3_join_agg": lambda r: {"p": r.randint(0, 40_000)},
    "q4_dropdup": lambda r: {"since": f"1995-{r.randint(1, 6):02d}-{r.randint(1, 28):02d}"},
    "q5_window_topk": lambda r: {"k": r.randint(1, 10), "q": r.randint(45, 50)},
    "q6_sort_limit": lambda r: {"k": r.randint(5, 50)},
    "q7_distinct": lambda r: {"maxline": r.randint(6, 7)},
    "q8_union_agg": lambda r: {"a": r.randint(-999, 9000)},
    "q9_profit_shape": lambda r: {"size": r.randint(45, 50)},
    "q18_volume_shape": lambda r: {"t": r.randint(250, 320), "limit": r.randint(10, 100)},
}


def relational_ops(rng, n):
    """A seeded sequence of the ten query shapes: every block of ten holds
    each shape once, in seeded order, with seeded thresholds, keys and k."""
    shapes = list(SHAPE_TABLES)
    offset = {(s, k): rng.randrange(len(v)) for s, c in CHOICES.items() for k, v in c.items()}
    ops = []
    for b in range(-(-n // len(shapes))):
        block = shapes[:]
        rng.shuffle(block)
        for s in block:
            params = NUMBERS[s](rng)
            for k, options in CHOICES.get(s, {}).items():
                params[k] = options[(offset[(s, k)] + b) % len(options)]
            ops.append({"shape": s, "params": params})
    return ops


def op_line(kind, op):
    return " ".join([kind, op["shape"]] + [f"{k}={v}" for k, v in op["params"].items()])


def ingest_inputs(rng, n_tokens):
    """Seeded ids: the benchmark (decontamination) set, the store seed,
    three warm-up batches and the timed micro-batches. `n_tokens[i]` is
    document i's token count. The benchmark set is drawn from documents of
    45-55 tokens, so its shingle count, which sets how many documents it
    contaminates, is about the same for every seed."""
    n_docs = len(n_tokens)
    ids = list(range(n_docs))
    rng.shuffle(ids)
    bench = [i for i in ids if 45 <= n_tokens[i] <= 55][:6]
    rest = [i for i in ids if i not in bench]
    n_seed, n_warm, n_batch = n_docs * 4 // 100, n_docs // 100, n_docs * 2 // 100
    seed, rest = rest[:n_seed], rest[n_seed:]
    warm, rest = rest[:3 * n_warm], rest[3 * n_warm:]
    return {"bench": bench, "seed": seed,
            "warmup": [warm[i:i + n_warm] for i in range(0, len(warm), n_warm)],
            "batches": [rest[i:i + n_batch] for i in range(0, len(rest) - n_batch + 1, n_batch)]}


# -------------------------------------------------------------- measuring

def tail(lats):
    """The highest percentile with at least ten samples beyond it; the
    maximum when there are fewer than 22 samples (the percentile would fall
    at or below the median)."""
    xs = sorted(lats)
    n = len(xs)
    if n >= 22:
        return xs[n - 11], f"p{100 * (n - 10) / n:.1f}", n
    return xs[-1], "max", n


def run_workload(args, classpath, data_dir, cores, trace):
    rng = random.Random(args.seed)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    inputs_path = os.path.join(run_dir, "inputs.txt")
    with open(inputs_path, "w") as f:
        if args.workload == "relational":
            ops = relational_ops(rng, 1000)
            # two blocks: latency still falls by about 8% over the first ten
            # operations after a one-block warm-up
            warm = relational_ops(random.Random(0), 2 * len(SHAPE_TABLES))
            f.write(f"block {len(SHAPE_TABLES)}\n")
            f.writelines(op_line("warmup", o) + "\n" for o in warm)
            f.writelines(op_line("op", o) + "\n" for o in ops)
        else:
            ing = ingest_inputs(rng, doc_tokens(data_dir))
            for k in ("bench", "seed"):
                f.write(" ".join([k] + [str(i) for i in ing[k]]) + "\n")
            for kind, batches in (("warmup", ing["warmup"]), ("batch", ing["batches"])):
                f.writelines(" ".join([kind] + [str(i) for i in b]) + "\n" for b in batches)
            f.write("compact_every 3\n")
    paths = {k: os.path.join(run_dir, f) for k, f in
             (("out", "result.json"), ("ops-out", "ops.jsonl"), ("spans-out", "spans.jsonl"))}
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp"] + ADD_OPENS +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores),
            "--data", data_dir, "--run-dir", run_dir,
            "--inputs", inputs_path] + [x for k, v in paths.items() for x in (f"--{k}", v)])
    budget = RUN_LIMIT_S - (time.monotonic() - args.t_start)
    jvm_t0 = time.monotonic()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"the JVM did not finish within {budget:.0f} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(paths["out"]):
        with open(os.path.join(run_dir, "jvm.log")) as jl:
            sys.stderr.write("".join(jl.readlines()[-40:]))
        raise RuntimeError(f"the JVM exited with code {code}")
    jvm_s = time.monotonic() - jvm_t0
    with open(paths["out"]) as f:
        record = json.load(f)
    results = {}
    with open(paths["ops-out"]) as f:
        for line in f:
            r = json.loads(line)
            results[(r["phase"], r["i"])] = r["result"]

    # output checks, outside the timed region
    check_t0 = time.monotonic()
    errors = {}
    oracle = Oracle(data_dir) if args.workload == "relational" else None
    for p, phase in enumerate(record["phases"]):
        for o in phase["ops"]:
            err = o["error"]
            if err is None and oracle is not None:
                err = oracle.check(ops[o["i"]], results[(p, o["i"])])
            if err is not None:
                errors[(p, o["i"])] = err
    oracle_s = time.monotonic() - check_t0
    for (p, i), err in list(errors.items())[:5]:
        log(f"operation {i} (phase {p}) failed: {err}")

    if trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        shutil.copy(paths["spans-out"],
                    os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    base = record["phases"][0]
    lats = [o["latency_s"] for o in base["ops"]]
    if args.workload == "relational":
        rows = {t: table_rows(data_dir, t) for ts in SHAPE_TABLES.values() for t in ts}
        docs = sum(sum(rows[t] for t in SHAPE_TABLES[ops[o["i"]]["shape"]]) for o in base["ops"])
    else:
        docs = base["stats"]["docs"]
    tail_v, tail_p, n = tail(lats)
    e2e = {
        "setup_s": record["setup_s"],
        "ops_per_s": len(lats) / base["measured_s"],
        "op_p50_s": statistics.median(lats),
        "op_tail_s": tail_v,
        "docs_per_s": docs / base["measured_s"],
        "peak_rss_mb": record["peak_rss_mb"],
    }
    attempted = sum(len(p["ops"]) for p in record["phases"])
    context = {
        "attempted": attempted, "failed": len(errors),
        "failed_frac": len(errors) / max(1, attempted),
        "op_tail": f"{tail_p} of n={n}",
        "op_latencies_s": [round(x, 4) for x in lats],
        "canary_s": record["canary_s"], "cores": cores,
        "warmup_s": record["warmup_s"], "jvm_s": jvm_s, "oracle_s": oracle_s,
        "blocks_left_max": max([o["blocks_left"] for o in base["ops"]], default=0),
        "ckpt_files_left_max": max([o["ckpt_files_left"] for o in base["ops"]], default=0),
        **{k: v for k, v in base["stats"].items()},
    }
    return e2e, record.get("layers") or {}, attempted, len(errors), context


# ------------------------------------------------------------------- main

def in_checkout():
    return (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")
            and os.path.isfile(os.path.join(HERE, "build.sbt")))


def prepare(sf):
    classpath = build()
    data_dir = os.path.join(WORK, "data", f"sf{sf}")
    datagen.generate(data_dir, sf)
    return classpath, data_dir


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def result_line(e2e, layers, attempted, failed, trace):
    names, source = (PER_LAYER, layers) if trace else (END_TO_END, e2e)
    metrics = {k: {"value": float(source[k]), "unit": u} for k, u in names.items()}
    return json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": metrics})


def smoke():
    """Every workload once at sf0.001 with tracing, failing when a named
    metric is missing, lacks its unit, or an output check fails."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    classpath, data_dir = prepare(0.001)
    ok = True
    for w in bench["workloads"]:
        args = argparse.Namespace(workload=w["name"], seed=7, seconds=1,
                                  t_start=time.monotonic())
        e2e, layers, attempted, failed, _ = run_workload(args, classpath, data_dir,
                                                         cores(), True)
        for trace, spec in ((False, bench["end_to_end"]), (True, bench["per_layer"])):
            line = json.loads(result_line(e2e, layers, attempted, failed, trace))
            for m in spec:
                got = line["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(
                        got.get("value"), float):
                    log(f"{w['name']}: metric {m['name']} missing or without unit {m['unit']}")
                    ok = False
        if failed or attempted < 1:
            log(f"{w['name']}: {failed} of {attempted} operations failed their check")
            ok = False
        print(f"smoke {w['name']}: attempted={attempted} failed={failed}")
    print("smoke OK" if ok else "smoke FAILED")
    return 0 if ok else 1


def main():
    # on SIGTERM, unwind so that the JVM child is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once at sf0.001 and check the metric names")
    args = ap.parse_args()
    args.t_start = time.monotonic()
    if not in_checkout():
        log("run from the root of a checkout of the program (build.sbt, src/, perfbench/)")
        return 2
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    classpath, data_dir = prepare(SF)
    args.t_start = time.monotonic()  # the build and data generation have their own limit
    e2e, layers, attempted, failed, context = run_workload(
        args, classpath, data_dir, cores(), args.trace == 1)
    for k, u in END_TO_END.items():
        print(f"{args.workload} {k} = {e2e[k]:.6g} {u}")
    print(f"{args.workload} failed_frac = {context['failed_frac']:.6g} ratio")
    if args.trace:
        for k, u in PER_LAYER.items():
            print(f"{args.workload} {k} = {float(layers[k]):.6g} {u}")
    print(f"{args.workload} context {json.dumps(context)}")
    print(result_line(e2e, layers, attempted, failed, args.trace == 1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
