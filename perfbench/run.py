"""Medallion benchmark: one run of one workload.

    python3 perfbench/run.py --workload fitbit_trickle --seed 1 --seconds 10 --trace 0

Builds the program from the checkout's sources (perfbench/build.py), generates
the workload's landing sets from the seed (perfbench/gen.py), runs set-up and
the timed phase in one JVM (perfbench/src/MedBench.scala), checks the outputs
with DuckDB (perfbench/check.py) and prints, as its last stdout line, one
JSON object: correct, attempted, failed and the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). The lines before it are the
machine record and a report of every metric by name and unit.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import sfgen  # noqa: E402

DEADLINE_S = 170  # every run ends well inside the 180 s limit
HEAP = "3g"
# bulk: the reference's two-set replay; trickle: its first set as history
# (landed during set-up), then TIMED_SETS sets of one 2-minute batch each
HISTORY_SETS = 1
TIMED_SETS = 2
BULK_CUTS = (gen.PERIOD_S, 2 * gen.PERIOD_S)
TRICKLE_CUTS = (gen.PERIOD_S,) + tuple(gen.PERIOD_S + gen.BATCH_S * (i + 1) for i in range(TIMED_SETS))
QUERIES = 160               # p90 needs at least ten samples beyond it
WARM_QUERIES = 50
# registry rows the traced run adds, one per layer the Medallion workloads never call
REGISTRY_ROWS = ("s13_medallion_replay",              # merge.ParquetTable, streaming waves on sf tables
                 "s10_stream_incremental_clusters",   # streaming.IncrementalClustering
                 "s44_stream_graph_insert",           # operators.Similarity, merge.LogTable
                 "v36_graph_ann_insert",              # operators.Similarity
                 "q67_logtable_lifecycle",            # merge.LogTable
                 "s21_stream_quality_router")         # ops.JobWave
WORKLOADS = ("fitbit_trickle", "lakehouse_reads")
# device_range is the middle 40 % of the latency order, so the median query
# is the median of one kind, not the edge between two
QUERY_MIX = (("device_range", 0.4), ("user_summary", 0.3), ("demographics", 0.2), ("gym_summary", 0.10))


def metric_specs():
    """(end_to_end, per_layer) name -> unit, from the repository's BENCHMARK.json."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def as_metrics(values, units):
    if set(values) != set(units):
        raise SystemExit("perfbench: measured %s, BENCHMARK.json names %s"
                         % (sorted(set(values) - set(units)), sorted(set(units) - set(values))))
    return {k: {"value": values[k], "unit": units[k]} for k in sorted(values)}


def query(rng, kind):
    u = rng.randint(1, gen.USERS)
    if kind == "user_summary":
        return f"{kind}\t{u}"
    if kind == "device_range":
        lo = gen.T0 + rng.randrange(0, int(BULK_CUTS[-1]) - 7200)
        return f"{kind}\t{100000 + u}\t{lo}\t{lo + 7200}"
    return kind


def queries(rng, n):
    """n queries in the QUERY_MIX shares, shuffled within each half so both
    halves of the sequence carry the same mix."""
    out = []
    for half in (n // 2, n - n // 2):
        kinds = [k for k, w in QUERY_MIX for _ in range(round(w * half))]
        kinds = (kinds + [QUERY_MIX[0][0]] * half)[:half]
        rng.shuffle(kinds)
        out += [query(rng, k) for k in kinds]
    return out


def probe(rng):
    return [query(rng, k) for k, _ in QUERY_MIX]


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def commit_id(root):
    """Commit id when the checkout is a git repository, else a hash of the
    sources the run compiled (a checkout without .git)."""
    try:
        top, head = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
                                   capture_output=True, text=True, check=True, timeout=10).stdout.split()
        if os.path.realpath(top) == os.path.realpath(root):
            return head
    except (OSError, subprocess.SubprocessError, ValueError):
        pass
    return "src-sha256:" + build.source_hash()[:16]


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def pct(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else float("nan")


def run_jvm(work, plan, deadline):
    props = os.path.join(work, "plan.properties")
    write_lines(props, [f"{k}={v}" for k, v in plan.items()])
    opens = ["java.base/" + p for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.MedBench", props]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(plan["out"]) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)  # the work per run is fixed
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's handler kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = build.ROOT
    e2e_units, layer_units = metric_specs()
    build.build()
    deadline = time.time() + DEADLINE_S

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_gen = time.time()
        rng = random.Random(a.seed)
        reads = a.workload == "lakehouse_reads"
        props = gen.generate(os.path.join(work, "sets"), a.seed, BULK_CUTS if reads else TRICKLE_CUTS)
        # the trickle run ends (traced) with a read probe: two of each query kind
        write_lines(os.path.join(work, "queries.tsv"),
                    queries(rng, QUERIES) if reads else sorted(probe(rng) + probe(rng)))
        write_lines(os.path.join(work, "warm_queries.tsv"), queries(random.Random(a.seed + 1), WARM_QUERIES))
        gen_s = time.time() - t_gen
        if a.trace:
            sfgen.generate(os.path.join(work, "registry"), a.seed)
        plan = {"workload": a.workload, "trace": a.trace, "cpus": cpus, "work": work,
                "sets": os.path.join(work, "sets"), "history": HISTORY_SETS,
                "queries": os.path.join(work, "queries.tsv"),
                "warm_queries": os.path.join(work, "warm_queries.tsv"), "out": os.path.join(work, "result.json"),
                "registry": os.path.join(work, "registry"), "registry_rows": ",".join(REGISTRY_ROWS)}
        t_jvm, cpu0 = time.time(), cpu_jiffies()
        res = run_jvm(work, plan, deadline)
        jvm_s, cpu1 = time.time() - t_jvm, cpu_jiffies()
        t_check = time.time()
        ok, problems, counts = check.check(os.path.join(work, "sets"), os.path.join(work, "export"),
                                           res["results"], cpus)
        if a.trace:
            problems += check.check_registry(os.path.join(work, "registry"),
                                             os.path.join(work, "export", "registry"), res["oracle"], REGISTRY_ROWS)
            ok = not problems
        check_s = time.time() - t_check
        results_dir = os.path.join(build.BUILD, "results")
        os.makedirs(results_dir, exist_ok=True)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.json"),
                        os.path.join(results_dir, f"{a.workload}-{a.seed}-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # set-up: generation, then JVM and session start, history sets or the
    # lakehouse build, and warm-up queries, up to the start of the timed phase
    setup_s = gen_s + res["timed_start_ms"] / 1000 - t_jvm
    if reads:
        lat = [q["ms"] for q in res["queries"] if q.get("ok")]
    else:
        sets = [s for s in res["sets"] if s.get("ok")]
        lat = [s["latency_s"] * 1000 for s in sets]
    if not lat:
        raise SystemExit("perfbench: no operation succeeded: %s" % res["errors"])
    e2e = {"setup_s": setup_s, "wall_s": res["timed_wall_s"], "cpu_s": res["timed_cpu_s"],
           "op_p50_ms": statistics.median(lat)}
    attempted, failed = res["attempted"], res["failed"]
    machine = {"nproc": os.cpu_count(), "cpus_used": cpus, "load1_start": res["load1_start"],
               "load1_end": res["load1_end"], "steal_share": round((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), 4),
               "heap_max_mb": res["heap_max_mb"], "master": res["master"],
               "shuffle_partitions": res["shuffle_partitions"], "commit": commit_id(root),
               "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "jvm_s": round(jvm_s, 3), "gen_s": round(gen_s, 3),
               "check_s": round(check_s, 3)}
    report = {"inputs": props, "expected_rows": counts, "problems": problems, "errors": res["errors"]}
    # every metric by name and unit: the gated end-to-end ones, then the
    # per-workload names (informational, not gated)
    named = {k: (v, e2e_units[k]) for k, v in e2e.items()}
    named.update(failed_ratio=(failed / attempted, "ratio"), outputs_correct=(int(ok), "bool"),
                 peak_rss_mb=(res["peak_rss_mb"], "MB"))
    def events_per_s(done):
        bpm = props["bpm_landed_per_set"]
        return sum(bpm[int(s["set"][4:])] for s in done) / sum(s["latency_s"] for s in done)

    if reads:
        bulk = [s for s in res["setup_sets"] if s.get("ok")]
        p90 = pct(lat, 0.9)
        named.update(query_p50_ms=(statistics.median(lat), "ms"), query_p90_ms=(p90, "ms"),
                     queries=(len(lat), "count"), queries_beyond_p90=(sum(x > p90 for x in lat), "count"),
                     bulk_events_per_s=(events_per_s(bulk), "1/s"),
                     bulk_set_latency_p50_s=(statistics.median(s["latency_s"] for s in bulk), "s"))
    else:
        named.update(events_per_s=(events_per_s(sets), "1/s"),
                     set_latency_p50_s=(statistics.median(lat) / 1000, "s"),
                     set_latency_late_p50_s=(statistics.median(lat[len(lat) // 2:]) / 1000, "s"),
                     sets=(len(sets), "count"))
    print(json.dumps({"machine": machine}))
    print(json.dumps({"report": report}))
    for k, (v, unit) in named.items():
        print(f"metric {k} {v:.6g} {unit}")
    if a.trace:
        metrics = as_metrics(res["layers"], layer_units)
        prior = os.path.join(results_dir, f"{a.workload}-{a.seed}-0.json")
        if os.path.exists(prior):
            with open(prior) as f:
                print(json.dumps({"trace_overhead_s": res["timed_wall_s"] - json.load(f)["wall_s"]}))
    else:
        metrics = as_metrics(e2e, e2e_units)
    with open(os.path.join(results_dir, f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump({"machine": machine, "report": report, **{k: v for k, (v, _) in named.items()},
                   "layers": res.get("layers"), "operations": res["queries"] if reads else res["sets"]}, f)
    print(json.dumps({"correct": ok and failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
