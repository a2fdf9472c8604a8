#!/usr/bin/env python3
"""The repo benchmark: one workload of the graft engine, timed and checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repo root. Workloads:

- dag_daily: the reference's daily DAG (extractChunked -> load -> validate)
  over a landing table of sf0.1 lineitem rows with seeded duplicates and
  variants, written as 50,000-row CSV chunks.
- query_tail: an analyst's query session on the sf0.01 fixture (iterative,
  retrieval and relational registry queries) in a seed-permuted family
  order.
- incremental_day: ten seeded batches over sf0.1 orders appended through
  the cleaning layer, then readLatest, compact and readLatest again.

The first run builds the harness and the engine from source with sbt (under
`.bench_build/`); inputs, outputs and Spark scratch live in `.bench_work/`.
With `--trace 0` the last stdout line carries the end-to-end metrics of the
named workload; with `--trace 1` it carries the per-layer metrics of one
traced pass over all three workloads, and the named workload's tracing
overhead. Both list `correct`, `attempted` and
`failed`; the lines above it show the workload's own named figures.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import data  # noqa: E402

WORKLOADS = ("dag_daily", "query_tail", "incremental_day")
DAYS = 10
CHUNK_ROWS = 50_000
# fixed (-Xms = -Xmx) so the heap is sized the same in every run; VmHWM then
# nears the heap on the write workloads, so peak heap used is printed beside it
JVM_HEAP = "2g"
DEADLINE_S = 170        # the whole run, build excluded
BUILD_DEADLINE_S = 840
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness with the engine sources; returns the classpath.
    Skipped when nothing under the sources has changed since the last build."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM sbt starts, including its launcher's Java-version probe,
    # reads JAVA_TOOL_OPTIONS
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    # keep sbt's lock and scratch files inside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.boot.lock=false",
            f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_DEADLINE_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and "scala-2.13/classes" in ln), None)
    if rc != 0 or cp is None:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- inputs

def file_hash(path):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(path)):
        for name in sorted(fs):
            with open(os.path.join(d, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# query_tail's query families; the phases are the families in this order
FAMILIES = {"iterative": ["q_dbscan", "q_coreset_kcenter"],
            "retrieval": ["q_hybrid_rrf"],
            "relational": ["q_tpch_q1", "q_tpch_q3", "q_tpch_q18", "q_tpch_q21"]}


def query_order(seed):
    """(query, family) pairs: the seed permutes the order of the families."""
    fams = list(FAMILIES)
    random.Random(seed).shuffle(fams)
    return [(q, f) for f in fams for q in FAMILIES[f]]


def generate(workload, seed, inp, scratch):
    """Write the workload's inputs under `inp`; query_tail reads the fixture
    as it is and has none. The generator runs three times (seed, seed again,
    seed + 1): the median time is the set-up's input-generation share, and
    the file hashes are the determinism check."""
    if workload == "query_tail":
        return 0.0, None, None

    def gen(s, path):
        if workload == "dag_daily":
            return data.dag_input(s, os.path.join(path, "landing"))
        return data.day_batches(s, path, DAYS)

    sub = "dag" if workload == "dag_daily" else "days"
    times, hashes, info = [], [], None
    for i, s in enumerate((seed, seed, seed + 1)):
        path = os.path.join(inp if i == 0 else f"{scratch}/gen{i}", sub)
        t0 = time.time()
        got = gen(s, path)
        times.append(time.time() - t0)
        hashes.append(file_hash(path))
        if i == 0:
            info = got
        else:
            shutil.rmtree(path)
    return statistics.median(times), hashes, info


# ---------------------------------------------------------------- harness

def run_jvm(cp, args, work, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
            "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main", "--out", out] + args)
    # these would move Spark's scratch out of the work dir
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS")}
    launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness exceeded the run deadline; see {work}/jvm.log")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.readlines()[-15:]
        sys.stderr.write("".join(tail))
        fail(f"harness failed (exit {rc}); see {work}/jvm.log")
    with open(out) as f:
        return json.load(f), launch


class Checker:
    """Correctness checks: each records one attempt, failures are listed."""

    def __init__(self):
        self.attempted, self.failures = 0, []

    def eq(self, what, got, want):
        self.attempted += 1
        if got != want:
            self.failures.append(f"{what}: got {got!r}, want {want!r}")

    def true(self, what, ok):
        self.eq(what, bool(ok), True)


def check_determinism(ck, hashes):
    ck.true("same seed gives the same input", hashes[0] == hashes[1])
    ck.true("another seed gives other input", hashes[0] != hashes[2])


def check_dag(ck, facts, expected):
    ck.eq("dag stage failures", facts["failed_stages"], [])
    ck.true("dag chunk count", facts["chunks"] >=
            math.ceil(expected["input_rows"] / CHUNK_ROWS))
    checks = facts["checks"]
    for name, want in (
            ("row_count_min_100000", expected["analytics_rows"]),
            ("distinct_l_orderkey_min_1000", expected["distinct_l_orderkey"]),
            ("distinct_l_returnflag_min_3", expected["distinct_l_returnflag"]),
            ("nulls_l_orderkey", expected["nulls_l_orderkey"]),
            ("duplicate_rows", expected["duplicate_rows"])):
        ck.eq(f"dag check {name}", checks.get(name), float(want))
    got = data.dag_actual_digest(facts["analytics_dir"])
    ck.eq("dag analytics rows+digest", got,
          (expected["analytics_rows"], expected["analytics_digest"]))


def check_queries(ck, facts, names, expected):
    con = data.connect()
    for q in names:
        got = data.relation_digest(con, data.parquet(
            os.path.join(facts["results_dir"], q)))
        want = expected["queries"][q]
        ck.eq(f"query {q} rows+digest", list(got), [want["rows"], want["digest"]])
    con.close()


def check_days(ck, facts, info, inp):
    written, live = info
    expected = data.day_expected(inp, DAYS, written, live)
    for i, rows in enumerate(facts["rows_written"]):
        ck.eq(f"rows written per append, cycle {i}", rows, written)
    ck.eq("live keys after each day", facts["live_keys"], live)
    ck.eq("compactions", facts["failed_compactions"], [])
    con = data.connect()
    pre = data.latest_actual_digest(con, facts["latest_pre"])
    ck.eq("readLatest rows+digest", pre,
          (expected["latest_rows"], expected["latest_digest"]))
    full = [data.relation_digest(con, data.parquet(facts[k]))
            for k in ("latest_pre", "latest_post")]
    ck.eq("readLatest after compaction equals before", full[1], full[0])
    con.close()
    return expected


def percentile_tail(samples):
    """The highest whole percentile with at least 10 samples beyond it
    (nearest rank), or None when there are fewer than 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    p = math.floor(100 * (n - 10) / n)
    s = sorted(samples)
    return p, s[max(0, math.ceil(p / 100 * n) - 1)], n


UNITS = (("_ms", "ms"), ("_s", "s"), ("_ratio", "ratio"), ("_mb", "MB"),
         ("chunks", "count"))


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; run from a checkout")
    spec = load_spec()
    cp = build()
    t_setup = time.time()
    deadline = t_setup + DEADLINE_S
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, "trace" if a.trace else a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = os.path.join(run_dir, "in")
    work = os.path.join(run_dir, "work")
    os.makedirs(work)
    with open(os.path.join(HERE, "expected_queries.json")) as f:
        expected_q = json.load(f)
    order = query_order(a.seed)
    args = ["--seconds", str(a.seconds), "--in", inp, "--work", work,
            "--cpus", str(cpus), "--fixture", data.QUERY_FIXTURE,
            "--order", ",".join(f"{q}:{f}" for q, f in order),
            "--days", str(DAYS), "--workload", a.workload]
    ck = Checker()

    if a.trace:
        infos = {}
        for w in ("dag_daily", "incremental_day"):
            _, _, infos[w] = generate(w, a.seed, inp, run_dir)
        res, _ = run_jvm(cp, args + ["--trace", "1"], work, deadline)
        facts = res["facts"]
        dag_exp = data.dag_expected(
            os.path.join(inp, "dag", "landing"), infos["dag_daily"])
        check_dag(ck, facts["dag_daily"], dag_exp)
        check_queries(ck, facts["query_tail"],
                      [q for q, _ in order] + ["q_curation"], expected_q)
        check_days(ck, facts["incremental_day"], infos["incremental_day"],
                   os.path.join(inp, "days"))
        layer = res["layer"]
        layer["dag_daily.stored_bytes_ratio"] = (
            facts["dag_daily"]["analytics_bytes"]
            / facts["dag_daily"]["chunk_bytes"])
        layer["incremental_day.stored_bytes_ratio"] = (
            facts["incremental_day"]["table_bytes"]
            / dir_bytes(os.path.join(inp, "days")))
        missing = [m["name"] for m in spec["per_layer"] if m["name"] not in layer]
        if missing:
            fail(f"traced run lacks per-layer metrics: {missing}")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        with open(os.path.join(run_dir, "layer.json"), "w") as f:
            json.dump(layer, f, indent=1, sort_keys=True)
        print(f"spans: {res['spans_file']}")
        print(f"all per-layer counters: {run_dir}/layer.json")
        print(f"{a.workload} trace_overhead_s "
              f"{fmt(layer['trace_overhead_s'])} s")
        print(f"q_curation runs_ms {facts['q_curation_ms']}")
        attempted = ck.attempted
    else:
        gen_s, hashes, info = generate(a.workload, a.seed, inp, run_dir)
        if a.workload == "query_tail":
            ck.eq("query fixture hash", file_hash(data.QUERY_FIXTURE),
                  expected_q["fixture_sha256"])
        else:
            check_determinism(ck, hashes)
        res, launch = run_jvm(cp, args, work, deadline)
        facts, units = res["facts"], res["units"]
        if a.workload == "dag_daily":
            exp = data.dag_expected(
                os.path.join(inp, "dag", "landing"), info)
            check_dag(ck, facts, exp)
            input_rows = exp["input_rows"]
            ops_per_unit = 3
        elif a.workload == "query_tail":
            check_queries(ck, facts, [q for q, _ in order], expected_q)
            input_rows = expected_q["fixture_rows"]
            ops_per_unit = len(order)
        else:
            exp = check_days(ck, facts, info, os.path.join(inp, "days"))
            input_rows = exp["input_rows"]
            ops_per_unit = DAYS + 3
        totals = [sum(u) for u in units]
        run_s = statistics.median(totals)
        setup_s = gen_s + (res["first_unit_ms"] / 1000.0 - launch)
        cold_s = sum(res["cold"])
        e2e = {
            "setup_s": setup_s,
            "run_s": run_s,
            "rows_per_s": input_rows / run_s,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in e2e]
        if missing:
            fail(f"run lacks end-to-end metrics: {missing}")
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        # printed, not bounded: the cold unit, each phase's median over the
        # measured units, and the workload's own figures
        named = {"cold_run_s": cold_s}
        named.update({f"{ph}_s": statistics.median(u[i] for u in units)
                      for i, ph in enumerate(res["phases"])})
        if a.workload == "incremental_day":
            named["append_p50_ms"] = statistics.median(res["append_ms"])
            tail = percentile_tail(res["append_ms"])
            named["append_tail_ms"] = (
                f"{tail[1]:.6g} (p{tail[0]}, n={tail[2]})" if tail
                else f"n/a (n={len(res['append_ms'])} < 11)")
            named["read_latest_ms"] = statistics.median(res["read_latest_ms"])
            named["compact_s"] = named.pop("compact_s")
            named["stored_bytes_ratio"] = (
                facts["table_bytes"] / dir_bytes(os.path.join(inp, "days")))
        if a.workload == "dag_daily":
            named["stored_bytes_ratio"] = (
                facts["analytics_bytes"] / facts["chunk_bytes"])
            named["chunks"] = facts["chunks"]
        warm = res["warmup"]
        named["unit_times_s"] = (
            f"cold {cold_s:.3f}, warm-up "
            + " ".join(f"{t:.3f}" for t in warm)
            + (" (settled: the last no more than 10% faster than the "
               "fastest before it)" if res["warmup_settled"]
               else f" (not settled after {len(warm)})")
            + ", measured " + " ".join(f"{t:.3f}" for t in totals))
        named["peak_heap_used_mb"] = res["peak_heap_used_mb"]
        gen = (f"{gen_s:.3f} (median of 3)" if a.workload != "query_tail"
               else "none (fixed fixture)")
        named["setup_split_s"] = (
            f"generate {gen}, jvm and session "
            f"{res['session_ready_ms'] / 1000.0 - launch:.3f}, "
            f"staging {res['stage_s']:.3f}")
        for k, v in named.items():
            unit = next((u for sfx, u in UNITS if k.endswith(sfx)), "")
            if isinstance(v, str):
                unit = ""
            print(f"{a.workload} {k} {fmt(v)} {unit}".rstrip())
        attempted = ck.attempted + ops_per_unit * (
            1 + len(warm) + len(units))
    host = res["host"]
    print(f"host nproc={host['nproc']} cpus={host['cpus']} "
          f"cpu_probe_ms={host['cpu_probe_ms']} "
          f"loadavg_start=\"{host['loadavg_start']}\" "
          f"loadavg_end=\"{host['loadavg_end']}\"")
    failed = len(ck.failures)
    print(f"failed_ratio {failed / attempted:.6g} ({failed}/{attempted})")
    for msg in ck.failures:
        print(f"FAILED {msg}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
