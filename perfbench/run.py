"""graft benchmark: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs one JVM with a
single closed-loop client (perfbench/scala), checks every output untimed,
and prints as its last stdout line
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics when
untraced, the per-layer metrics when traced. The line before it is the full
record (sample counts, percentiles, input sizes, run environment, checks).
Exits 1 when an output check fails.
"""
import argparse
import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
from metrics import Trace, median, tail  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 150

WORKLOADS = {
    "ingest_watermark": dict(
        inputs="ingest",
        why="The reference's own path (sources, Prep, strict-> watermark, "
            "PartitionedSink, sync.json); the only write-dominated workload, "
            "and its growing landing dir shows whether scan cost follows the "
            "increment or the history."),
    "corpus_lifecycle": dict(
        inputs="corpus",
        why="Stored LSH and IVF-PQ indexes under probes, appends, takedowns "
            "and compaction: the kernels, index I/O and the chain of small "
            "driver actions; a gain for one use that costs another shows."),
    "analytics_mix": dict(
        inputs="tables",
        why="Read-only registry queries (graph loops, components, triangles, "
            "kernel path, query-cached state): iterative graph shuffles plus "
            "per-job driver cost; writes nothing, so write-path changes should "
            "leave it flat."),
}

CORPUS_CALLS = ["operators.Dedup.probeAdmission",
                "operators.Dedup.incrementalCandidatesStored",
                "operators.Dedup.ngramJaccard",
                "operators.Dedup.appendToBucketIndex",
                "operators.Similarity.ivfPqScanStored",
                "operators.Similarity.appendToIvfPqIndex"]

# ------------------------------------------------------------ environment

def cpu_jiffies():
    """(steal, total) from /proc/stat's aggregate line, as graft.Bench
    reads them; (-1, -1) where unavailable."""
    try:
        with open("/proc/stat") as f:
            parts = [int(x) for x in f.readline().split()[1:]]
        return parts[7], sum(parts[:8])
    except (OSError, IndexError, ValueError):
        return -1, -1


class Env:
    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        self.load_start = os.getloadavg()[0]
        self.jiffies = cpu_jiffies()

    def stamp(self):
        (s0, t0), (s1, t1) = self.jiffies, cpu_jiffies()
        steal = 100.0 * (s1 - s0) / (t1 - t0) if s0 >= 0 and t1 > t0 else -1.0
        load_end = os.getloadavg()[0]
        return dict(nproc=self.nproc, load_start=round(self.load_start, 2),
                    load_end=round(load_end, 2), steal_pct=round(steal, 2),
                    contended=self.load_start >= self.nproc / 4 or steal >= 5.0)


# ------------------------------------------------------------ checks

def check_ingest(raw, inputs):
    """DuckDB recount and order-independent hash of the landed rows that
    must reach the table (ts non-null, ts > first watermark), plus the
    partition values and the sync.json watermark format."""
    import duckdb
    info = raw["info"]
    n = info["batches"]
    files = sorted(os.listdir(f"{inputs}/history"))
    landed = [f"{inputs}/history/{f}" for f in files] + \
        [f"{inputs}/batches/{f}" for f in sorted(os.listdir(f"{inputs}/batches"))[:n]]
    con = duckdb.connect()
    digest = ("count(*), sum(hash(event_id, epoch_us(ts), user_id, event_type, "
              "value, props)::HUGEINT), max(epoch_us(ts))")
    want = con.execute(
        f"SELECT {digest} FROM read_parquet(?) WHERE ts IS NOT NULL AND "
        "epoch_us(ts) > ?", [landed, gen.first_watermark_us()]).fetchone()
    out = f"{info['output']}/**/*.parquet"
    got = con.execute(
        f"SELECT {digest} FROM read_parquet('{out}', hive_partitioning=true)").fetchone()
    bad_parts = con.execute(
        "SELECT count(*) FROM read_parquet(?, hive_partitioning=true, "
        "hive_types_autocast=false) WHERE \"YEAR\" <> year(make_timestamp("
        "epoch_us(ts)))::VARCHAR OR \"MONTH\" <> month(make_timestamp("
        "epoch_us(ts)))::VARCHAR", [out]).fetchone()[0]
    checks = {}
    checks["table_equals_landed_rows"] = "ok" if want[:2] == got[:2] else \
        f"table has {got[0]} rows / hash {got[1]}, landed rows want {want[0]} / {want[1]}"
    checks["partition_values"] = "ok" if bad_parts == 0 else \
        f"{bad_parts} rows in the wrong YEAR/MONTH partition"
    with open(info["sync"]) as f:
        last = json.load(f)["sync"]["ref_last_value"]
    want_ts = (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=want[2])) \
        .strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    checks["sync_watermark"] = "ok" if last == want_ts else \
        f"sync.json holds {last!r}, max(ts) is {want_ts!r}"
    return checks


def check_analytics(raw, inputs):
    """The mix's results against SparkEntry.oracleSql in DuckDB, through
    the repo's own oracle comparator."""
    out = raw["info"].get("oracle_out")
    if not out:
        return {"oracle": "no query outputs were written"}
    tool = os.path.join(ROOT, "tools", "compare_oracle.py")
    r = subprocess.run([sys.executable, tool, inputs, out],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = {ln.split(":")[0]: ln for ln in r.stdout.splitlines() if ln.startswith("q")}
    return {f"{q}.oracle": "ok" if r.returncode == 0 and ": MATCH" in lines.get(q, "")
            else lines.get(q, r.stdout[-300:]) for q in raw["info"]["mix"]}


# ------------------------------------------------------------ metrics

def end_to_end(workload, raw, setup_s, manifest):
    """The gated metrics plus the workload's own figures. An operation is an
    ingest batch, a corpus batch, or one registry query. `batch_p50_s` is the
    median operation latency; `batch_tail_s` takes its samples from the
    operations too, except on corpus_lifecycle, where a run holds only a few
    batches: there every timed graft call of the batch chain and of the
    maintenance windows is a sample."""
    ops = [o for o in raw["ops"] if o["pass"] >= 0]
    info = raw["info"]
    wall = raw["timed_wall_s"]
    e2e, extra = {}, {}
    if workload == "analytics_mix":
        warm = [o for o in ops if o["pass"] >= 1]
        lat = [o["lat_s"] for o in warm]
        passes = {}
        for o in raw["ops"]:
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["lat_s"]
        mix = info["mix"]  # query -> the table it reads
        e2e["rows_per_s"] = sum(manifest["rows"][mix[o["name"]]] for o in warm) / sum(lat)
        extra["query_total_s"] = median([v for p, v in passes.items() if p >= 1])
        extra["query_first_pass_s"] = passes.get(0, 0.0)
        tail_lat = lat
    else:
        lat = [o["lat_s"] for o in ops if o["kind"] == "batch"]
        committed = info["rows_committed"] if workload == "ingest_watermark" \
            else info["docs_decided"]
        e2e["rows_per_s"] = committed / wall
        extra["write_amp"] = raw.get("bytes_written", 0) / max(info["bytes_landed"], 1)
        tail_lat = lat
    if workload == "corpus_lifecycle":
        maint = [o["lat_s"] for o in ops if o["kind"] == "maint"]
        extra["docs_per_s"] = info["docs_decided"] / wall
        extra["maint_p50_s"] = median(maint)
        extra["maint_n"] = len(maint)
        extra["dup_recall"] = info["planted_rejected"] / max(info["planted"], 1)
        tail_lat = [c["lat_s"] for c in raw["calls"] if c["pass"] >= 0]
    e2e["setup_s"] = setup_s
    e2e["batch_p50_s"] = median(lat)
    e2e["batch_tail_s"], pct, n = tail(tail_lat)
    extra.update(batch_n=len(lat), tail_n=n, tail_pct=round(pct, 2))
    return e2e, extra


def per_layer(workload, raw, e2e, extra):
    tr = Trace(raw["trace"], raw["timed_start_ms"], raw["timed_end_ms"])
    info = raw["info"]
    m = {}
    jobs = tr.jobs
    in_rows = tr.stage_sum(jobs, "in_records")
    delivered = e2e["rows_per_s"] * (
        sum(o["lat_s"] for o in raw["ops"] if o["kind"] == "query" and o["pass"] >= 1)
        if workload == "analytics_mix" else raw["timed_wall_s"])
    m["sources.rows_read"] = in_rows
    m["sources.bytes_read"] = tr.stage_sum(jobs, "in_bytes")
    m["sources.useful_ratio"] = delivered / in_rows if in_rows else 0.0
    ing = tr.layer("operators.Ingestion.ingestionStep")
    for k in ("self_s", "jobs", "no_job_s"):
        m[f"operators.Ingestion.ingestionStep.{k}"] = ing[k]
    for call in CORPUS_CALLS:
        lay = tr.layer(call)
        for k in ("s", "task_cpu_s", "jobs"):
            m[f"{call}.{k}"] = lay[k]
    cand, ver = info.get("candidates", 0), info.get("verified", 0)
    m["dedup.candidates"] = cand
    m["dedup.verified"] = ver
    m["dedup.verified_ratio"] = ver / cand if cand else 0.0
    mr = tr.layer("operators.Maintenance.run")
    for k in ("s", "jobs", "no_job_s"):
        m[f"operators.Maintenance.run.{k}"] = mr[k]
    m["index.max_files_per_dir"] = info.get("index_max_files_per_dir", 0)
    m["index.data_files"] = info.get("index_data_files", 0)
    m["index.rows_deleted"] = info.get("rows_deleted", 0)
    rewrite = [j for name in ("operators.Dedup.deleteFromBucketIndex",
                              "operators.Similarity.deleteFromIvfPqIndex",
                              "operators.Maintenance.run")
               for s in tr.named(name) for j in tr.subtree_jobs(s)]
    m["index.bytes_rewritten"] = tr.stage_sum(rewrite, "out_bytes")
    m["sinks.files_written"] = raw["files_written"]
    m["sinks.bytes_written"] = tr.stage_sum(jobs, "out_bytes")
    m["sinks.rows_written"] = tr.stage_sum(jobs, "out_records")
    plans = tr.plans + [p for p in info.get("plan_phases", [])
                        if raw["timed_start_ms"] <= p["start_ms"] <= raw["timed_end_ms"]]
    for k in ("analysis", "optimization", "planning"):
        m[f"plans.{k}_s"] = sum(p[f"{k}_ms"] for p in plans) / 1000.0
    m["plans.actions"] = len(tr.plans)
    by_query = {}
    for s in tr.named("query"):
        _, q, p = s["trace"].split(":")
        if int(p) >= 1:
            by_query.setdefault(q, []).append(s)
    for q in info.get("mix", {}):
        spans = by_query.get(q, [])
        kids = [tr.children.get(s["id"], []) for s in spans]
        for part in ("build", "plan", "exec"):
            m[f"queries.{q}.{part}_s"] = median(
                [sum(c["end_ms"] - c["start_ms"] for c in ks if c["name"] == part) / 1000.0
                 for ks in kids])
        m[f"queries.{q}.shuffle_write_bytes"] = median(
            [tr.stage_sum(tr.subtree_jobs(s), "shuffle_write") for s in spans])
        m[f"queries.{q}.task_cpu_s"] = median(
            [tr.stage_sum(tr.subtree_jobs(s), "cpu_ns") / 1e9 for s in spans])
    stages = [st for j in jobs for st in j["stage_rows"]]
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.task_cpu_s"] = sum(st["cpu_ns"] for st in stages) / 1e9
    m["exec.shuffle_read_bytes"] = sum(st["shuffle_read"] for st in stages)
    m["exec.shuffle_write_bytes"] = sum(st["shuffle_write"] for st in stages)
    m["exec.spill_bytes"] = sum(st["spill"] for st in stages)
    m["exec.gc_s"] = raw.get("gc_s", 0.0)
    tops = [s for s in tr.spans if s["parent"] == -1]
    m["driver.no_job_s"] = sum(tr.no_job_s(s) for s in tops)
    m["cache.persistent_rdds"] = max(raw["persistent_rdds"] or [0])
    m["jvm.heap_peak_mb"] = raw.get("heap_peak_mb", 0.0)
    for k in ("docs_per_s", "maint_p50_s", "query_total_s", "query_first_pass_s",
              "write_amp", "dup_recall"):
        m[f"workload.{k}"] = extra.get(k, 0.0)
    m["workload.fail_frac"] = extra["fail_frac"]
    m["trace.batch_p50_s"] = e2e["batch_p50_s"]
    m["trace.spans"] = len(tr.spans)
    return m


# ------------------------------------------------------------ run

def run_jvm(jar, args, log_path):
    work = args[2]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(build.java_cmd(jar, work, args), stdout=log,
                             stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    env = Env()
    jar = build.build()
    wl = WORKLOADS[a.workload]
    work = os.path.join(ROOT, build.BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = os.path.join(work, "inputs")
    t = time.perf_counter()
    manifest = gen.GENERATORS[wl["inputs"]](inputs, a.seed)
    gen_s = time.perf_counter() - t
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    code = run_jvm(jar, [a.workload, inputs, work, str(a.seconds), str(a.trace),
                             str(a.seed), str(env.nproc), out], log)
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM exited with {code}")
    with open(out) as f:
        raw = json.load(f)
    checks = dict(raw["checks"])
    if a.workload == "ingest_watermark" and "harness" not in checks:
        checks.update(check_ingest(raw, inputs))
    if a.workload == "analytics_mix" and "harness" not in checks:
        checks.update(check_analytics(raw, inputs))
    failed_ops = sum(not o["ok"] for o in raw["ops"])
    failed_checks = sum(v != "ok" for v in checks.values())
    attempted = len(raw["ops"]) + len(checks)
    failed = failed_ops + failed_checks
    correct = failed == 0 and len(raw["ops"]) > 0
    setup_s = raw["session_s"] + gen_s + median(raw["setup_reps_s"]) + \
        raw.get("warmup_s", 0.0)
    record = dict(workload=a.workload, why=wl["why"], seed=a.seed,
                  seconds=a.seconds, trace=a.trace, env=env.stamp(), inputs=manifest,
                  setup=dict(gen_s=gen_s, session_s=raw["session_s"],
                             reps_s=raw["setup_reps_s"], warmup_s=raw.get("warmup_s")),
                  verify_s=raw.get("verify_s"),
                  ops=[[o["name"], o["pass"], round(o["lat_s"], 4)] for o in raw["ops"]],
                  checks=checks, errors=[o["error"] for o in raw["ops"] if not o["ok"]])
    metrics = {}
    if correct:
        e2e, extra = end_to_end(a.workload, raw, setup_s, manifest)
        extra["fail_frac"] = failed / attempted
        record.update(end_to_end=e2e, workload_metrics=extra,
                      timed_wall_s=raw["timed_wall_s"], info={
                          k: v for k, v in raw["info"].items() if k != "plan_phases"})
        kind = "per_layer" if a.trace else "end_to_end"
        got = per_layer(a.workload, raw, e2e, extra) if a.trace else e2e
        # a layer the workload does not exercise reports 0
        metrics = {k: {"value": got.get(k, 0.0) if a.trace else got[k], "unit": u}
                   for k, u in spec_units(kind).items()}
    print(json.dumps(record))
    print(json.dumps(dict(correct=correct, attempted=attempted, failed=failed,
                          metrics=metrics)))
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if correct else 1)


def spec_units(kind):
    """Name -> unit of BENCHMARK.json's `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    main()
