#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <etl_daily|curate_corpus|stream_ingest|all>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (first run only), generates the workload's
inputs from the seed (cached per workload and seed), runs the workloads in
one JVM on a session built by `graft.Engine.session` at local[nproc],
checks every output against DuckDB, and prints each metric by name with
its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`). The full record,
with samples, failures and spans, is written under
.bench_build/perfbench/records/.
"""
import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gates  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["etl_daily", "curate_corpus", "stream_ingest"]
REF_SECONDS = 10     # run length the generator parameters are sized for
JVM_TIMEOUT_S = 160

# End-to-end metrics of the result line (BENCHMARK.json `end_to_end`).
END_TO_END = [("setup_s", "s"), ("batch_p50_s", "s"), ("peak_rss_mb", "MiB")]

# Per-layer metrics of the traced result line (BENCHMARK.json `per_layer`).
PER_LAYER = [
    ("engine.session_s", "s"),
    ("extraction.busy_s", "s"), ("extraction.rows_out", "count"),
    ("nested.busy_s", "s"), ("nested.pages_out", "count"),
    ("sinks.append_s", "s"), ("sinks.offered_rows", "count"),
    ("sinks.appended_rows", "count"), ("sinks.useful_ratio", "ratio"),
    ("sinks.replay_s", "s"), ("sinks.layout_s", "s"), ("sinks.complete_s", "s"),
    ("sinks.verify_s", "s"), ("sinks.verify_bad", "count"),
    ("sinks.bytes_written", "bytes"), ("sinks.sink_rows", "count"),
] + [m for step in ["normalize", "quality", "exact_dedup", "near_dedup", "sample", "pack"]
     for m in [(f"llm.{step}_s", "s"), (f"llm.{step}.rows_in", "count"),
               (f"llm.{step}.rows_out", "count")]] + [
    ("bench.bridge_s", "s"),
    ("functions.unaccent_s", "s"), ("functions.minhash_s", "s"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.driver_gap_s", "s"), ("spark.executor_run_s", "s"),
    ("spark.gc_s", "s"), ("spark.fetch_wait_s", "s"),
    ("spark.input_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("spark.task_skew", "ratio"),
    ("trace.unattributed_s", "s"),
]

# Per-layer metrics of the stream's layer. stream_ingest is not among the
# workloads BENCHMARK.json gates, so these go to the record and, on a
# traced stream_ingest run, to its result line.
STREAM_LAYER = [
    ("stream.batches", "count"), ("stream.empty_batches", "count"),
    ("stream.latest_offset_ms", "ms"), ("stream.get_batch_ms", "ms"),
    ("stream.query_planning_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
    ("stream.state_commit_ms", "ms"), ("stream.state_rows", "count"),
    ("stream.backlog_files_max", "count"), ("stream.backlog_slope", "files/s"),
    ("stream.gen_late_max_s", "s"),
]

# Layers a workload does not call, and why their per-layer values read 0.
ABSENT = {
    "etl_daily": ("llm.", "functions.", "stream.", "bench.bridge"),
    "curate_corpus": ("extraction.", "nested.", "sinks.", "stream."),
    "stream_ingest": ("extraction.", "nested.", "llm.", "functions.", "bench.bridge",
                      "sinks.replay", "sinks.layout", "sinks.complete", "sinks.verify"),
}

STREAM_PHASES = ["low", "mid", "high"]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def scaled_params(workload, seconds):
    """Generator parameters with the amount of work scaled to `seconds`."""
    p = json.loads(json.dumps(gen.PARAMS[workload]))
    f = seconds / REF_SECONDS
    if workload == "etl_daily":
        p["days"] = max(2, round(p["days"] * f))
    elif workload == "curate_corpus":
        p["passes"] = max(2, round(p["passes"] * f))
    elif workload == "stream_ingest":
        p["phase_s"] = [round(s * f, 1) for s in p["phase_s"]]
    return p


def cpu_steal_s():
    """Seconds of CPU the host's hypervisor took from this machine since
    boot (the `steal` column of /proc/stat), or None where it is not given."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def children_cpu_s():
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return ru.ru_utime + ru.ru_stime


def git_commit(root):
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(java, run_dir, config):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(config, f)
    cmd = java + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={run_dir}/tmp", "perfbench.Main", cfg_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    record = os.path.join(run_dir, "record.json")
    if code != 0 or not os.path.exists(record):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited with {code}:\n{tail}")
    with open(record) as f:
        return json.load(f)


def du(paths):
    total = 0
    for p in paths:
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def stream_phases(body):
    """Per phase: latencies, backlog and whether it kept up."""
    out = {}
    epf = body["events_per_file"]
    for ph in body["phases"]:
        idx = int(ph["name"][len("phase"):])
        label = STREAM_PHASES[idx]
        file_batch = metrics.attribute_files(ph["checkpoint"])
        batch_end = {b["batch_id"]: b["end_ms"] for b in ph["batches"]}
        lat, missing = metrics.file_latencies(ph["files"], file_batch, batch_end)
        series = metrics.backlog_series(ph["files"], file_batch, batch_end)
        since = metrics.first_commit_s(ph["files"], file_batch, batch_end)
        rate = ph["rate_files_per_s"]
        out[label] = {
            "rate_files_per_s": rate, "rate_eps": rate * epf,
            "latency_s": metrics.summary(lat), "latencies": lat,
            "uncommitted_files": missing,
            "files": len(ph["files"]),
            "backlog_files_max": max((b for _, b in series), default=0),
            "backlog_slope": metrics.backlog_trend(series, since),
            "backlog_grows": metrics.backlog_grows(series, since, rate),
            "gen_late_max_s": max((d["drop_ms"] - d["due_ms"]) / 1000.0
                                  for d in ph["files"]),
            "batches": ph["batches"],
        }
    return out


def account(attempted, failures, checks):
    """Each correctness gate is one more attempted operation, and a gate
    that found a problem is a failure with its message."""
    return (attempted + len(checks),
            failures + [{"op": g, "message": msg} for g, msg in checks if msg])


def reduce_workload(name, body, record, manifest):
    """Samples -> the workload's named metrics, plus gates and failures."""
    failures = list(body["failures"])
    attempted = body["attempted"]
    # the JVM's first session plus the workload's staging: the set-up a user pays
    out = {"setup_s": record["session_s"] + body["staging_s"],
           "peak_rss_mb": record["peak_rss_mb"]}
    if name == "etl_daily":
        day, rep = metrics.summary(body["day_s"]), metrics.summary(body["replay_s"])
        out.update(batch=day, replay=rep)
        checks = gates.etl(body, manifest)
    elif name == "curate_corpus":
        out.update(batch=metrics.summary(body["pass_s"]))
        checks = gates.curate(body)
    else:
        phases = stream_phases(body)
        out.update(phases={k: {kk: vv for kk, vv in v.items() if kk != "batches"}
                           for k, v in phases.items()})
        # the result line's batch_p50_s: file latency at the two rates below
        # capacity, where the median is not just the length of the run
        out["batch"] = metrics.summary(
            [x for k in ("low", "mid") if k in phases for x in phases[k]["latencies"]])
        kept = [v["rate_eps"] for v in phases.values() if not v["backlog_grows"]]
        out["sustained_eps"] = max(kept) if kept else None
        for k, v in phases.items():
            attempted += v["files"]
            failures += [{"op": f"{k} file {f}", "message": "no micro-batch committed it"}
                         for f in v["uncommitted_files"]]
        checks = gates.stream(body, manifest)
    attempted, failures = account(attempted, failures, checks)
    out["gates"] = [{"gate": g, "ok": msg is None} for g, msg in checks]
    out["attempted"], out["failures"] = attempted, failures
    out["fail_share"] = metrics.fail_share(attempted, len(failures))
    return out


def issue_metrics(name, r):
    """Every end-to-end metric the workload defines, as (name, value, unit, n)."""
    rows = [("setup_s", r["setup_s"], "s", 1)]
    b = r["batch"]
    if name == "stream_ingest":
        for label in ("low", "mid"):
            lat = r["phases"].get(label, {}).get("latency_s", {"n": 0})
            rows += [(f"lat_p50_s.{label}", lat.get("p50"), "s", lat["n"]),
                     (f"lat_tail_s.{label}", lat.get("tail"),
                      f"s@p{lat.get('tail_pct')}", lat["n"])]
        rows.append(("sustained_eps", r["sustained_eps"], "1/s", len(r["phases"])))
    else:
        rows += [("batch_p50_s", b.get("p50"), "s", b["n"]),
                 ("batch_tail_s", b.get("tail"), f"s@p{b.get('tail_pct')}", b["n"])]
    if name == "etl_daily":
        rows.append(("replay_p50_s", r["replay"].get("p50"), "s", r["replay"]["n"]))
    rows += [("fail_share", r["fail_share"], "ratio", r["attempted"]),
             ("peak_rss_mb", r["peak_rss_mb"], "MiB", 1)]
    return rows


def layer_metrics(name, body, record, r, spans):
    """Per-layer values of one traced workload, with absences explained."""
    m = {k: 0.0 for k, _ in PER_LAYER + STREAM_LAYER}
    # the untimed warm-up counts as one span of its own, its layers do not:
    # with the workload's own self time, the layers cover its wall time
    warm_ids = {s["id"] for s in subtree(spans, "bench.warmup")[1:]}
    totals = metrics.layer_totals([s for s in spans if s["id"] not in warm_ids])
    for layer, key in [("extraction", "extraction.busy_s"), ("nested", "nested.busy_s"),
                       ("sinks.append", "sinks.append_s"), ("sinks.replay", "sinks.replay_s"),
                       ("sinks.layout", "sinks.layout_s"), ("sinks.complete", "sinks.complete_s"),
                       ("sinks.verify", "sinks.verify_s"), ("bench.bridge", "bench.bridge_s"),
                       ("functions.unaccent", "functions.unaccent_s"),
                       ("functions.minhash", "functions.minhash_s")] + [
            (f"llm.{s}", f"llm.{s}_s") for s in
            ["normalize", "quality", "exact_dedup", "near_dedup", "sample", "pack"]]:
        if layer in totals:
            m[key] = totals[layer][0] / 1000.0
    for k, v in body.get("counters", {}).items():
        if k in m:
            m[k] = float(v)
    m["engine.session_s"] = record["session_s"]
    if name == "stream_ingest":
        phases = body["phases"]
        batches = [b for p in phases for b in p["batches"]]
        m["stream.batches"] = len(batches)
        m["stream.empty_batches"] = sum(1 for b in batches if b["input_rows"] == 0)
        for key, phase in [("latest_offset", "latestOffset"), ("get_batch", "getBatch"),
                           ("query_planning", "queryPlanning"), ("add_batch", "addBatch"),
                           ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets")]:
            m[f"stream.{key}_ms"] = sum(b["duration_ms"].get(phase, 0) for b in batches)
        m["stream.state_commit_ms"] = sum(b["state_commit_ms"] for b in batches)
        m["stream.state_rows"] = max((b["state_rows"] for b in batches), default=0)
        ph = r["phases"]
        m["stream.backlog_files_max"] = max(v["backlog_files_max"] for v in ph.values())
        m["stream.backlog_slope"] = max(v["backlog_slope"] for v in ph.values())
        m["stream.gen_late_max_s"] = max(v["gen_late_max_s"] for v in ph.values())
        m["sinks.offered_rows"] = sum(b["input_rows"] for b in batches)
        m["sinks.appended_rows"] = sum(p["appended"] for p in phases)
    sp, cat = body.get("spark", {}), body.get("catalyst", {})
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = cat.get(f"{k}_ms", 0)
    m["spark.jobs"] = sp.get("jobs", 0)
    m["spark.tasks"] = sp.get("tasks", 0)
    m["spark.executor_run_s"] = sp.get("executor_run_ms", 0) / 1000.0
    m["spark.gc_s"] = sp.get("gc_ms", 0) / 1000.0
    m["spark.fetch_wait_s"] = sp.get("fetch_wait_ms", 0) / 1000.0
    for k in ("input_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sp.get(k, 0)
    skew = sp.get("stage_skew_ms", [])
    med = sum(b for _, b in skew)
    m["spark.task_skew"] = sum(a for a, _ in skew) / med if med else 1.0
    units = [(s["start_ms"], s["end_ms"]) for s in spans
             if s["name"] in ("bench.day", "bench.replay", "bench.pass", "stream.phase")
             and s["group"] != "warmup"]
    m["spark.driver_gap_s"] = metrics.driver_gap_ms(
        units, [tuple(j) for j in sp.get("job_intervals_ms", [])]) / 1000.0
    root = [s for s in spans if s["name"] == f"workload.{name}"]
    if root:
        own = metrics.self_times(spans)
        m["trace.unattributed_s"] = own[root[0]["id"]] / 1000.0
    if m["sinks.offered_rows"]:
        m["sinks.useful_ratio"] = m["sinks.appended_rows"] / m["sinks.offered_rows"]
    absent = {k: f"{name} does not call this layer" for k in m
              if k.startswith(ABSENT[name])}
    self_by_layer = {k: {"total_s": v[0] / 1000.0, "self_s": v[1] / 1000.0, "count": v[2]}
                     for k, v in totals.items()}
    return m, absent, self_by_layer


def subtree(spans, root_name):
    """Spans under (and including) the first span named `root_name`."""
    root = next((s for s in spans if s["name"] == root_name), None)
    if root is None:
        return []
    keep, ids = [], {root["id"]}
    for s in sorted(spans, key=lambda s: s["id"]):
        if s["id"] in ids or s["parent"] in ids:
            ids.add(s["id"])
            keep.append(s)
    return keep


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=REF_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = build.ROOT
    bdir = build.BUILD_DIR
    try:
        java = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")

    names = WORKLOADS if args.workload == "all" else [args.workload]
    manifests = {}
    for n in names:
        manifests[n] = gen.inputs(os.path.join(bdir, "inputs"), n, args.seed,
                                  scaled_params(n, args.seconds))
    run_dir = os.path.join(bdir, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = nproc()
    stamp = {"nproc": cpus, "loadavg_start": os.getloadavg(), "heap": build.HEAP,
             "commit": git_commit(root), "source_sha256": build.source_hash(),
             "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    config = {"out": run_dir, "trace": args.trace, "cpus": cpus,
              "workloads": [{"name": n, "manifest": manifests[n],
                             "passes": manifests[n]["params"].get("passes")} for n in names]}
    try:
        t0, steal0, cpu0 = time.time(), cpu_steal_s(), children_cpu_s()
        try:
            record = run_jvm(java, run_dir, config)
        except RuntimeError as e:
            sys.exit(f"perfbench: {e}")
        stamp["jvm_s"] = time.time() - t0
        stamp["jvm_cpu_s"] = children_cpu_s() - cpu0
        if steal0 is not None:
            stamp["steal_s"] = cpu_steal_s() - steal0
        stamp["loadavg_end"] = os.getloadavg()
        full = {"stamp": stamp, "workloads": {}}
        attempted = failed = 0
        line_metrics = {}
        for n in names:
            body = record["workloads"][n]
            t0 = time.time()
            r = reduce_workload(n, body, record, manifests[n])
            stamp[f"gates_s.{n}"] = time.time() - t0
            r["params"] = manifests[n]["params"]
            r["metrics"] = [{"name": k, "value": v, "unit": u, "n": c}
                            for k, v, u, c in issue_metrics(n, r)]
            if args.trace:
                spans = subtree(record["spans"], f"workload.{n}")
                if n == "etl_daily":
                    body["counters"]["sinks.bytes_written"] = du(body["sink_dirs"])
                elif n == "stream_ingest":
                    body.setdefault("counters", {})["sinks.bytes_written"] = du(
                        [p["sink"] for p in body["phases"]])
                lm, absent, layers = layer_metrics(n, body, record, r, spans)
                r.update(per_layer=lm, absent=absent, layers=layers, spans=spans,
                         spark=body.get("spark"), catalyst=body.get("catalyst"))
                line_metrics[n] = lm
            else:
                line_metrics[n] = {"setup_s": r["setup_s"], "peak_rss_mb": r["peak_rss_mb"],
                                   "batch_p50_s": r["batch"].get("p50")}
            attempted += r["attempted"]
            failed += len(r["failures"])
            full["workloads"][n] = r
        write_record(bdir, args, full)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for n, r in full["workloads"].items():
        for m in r["metrics"]:
            print(f"{n} {m['name']} = {m['value']} {m['unit']} (n={m['n']})")
        for f in r["failures"]:
            print(f"{n} FAILED {f['op']}: {f['message']}")
        if "overhead" in r:
            for k, v in r["overhead"].items():
                print(f"{n} tracing overhead {k} = {v}")
    units = dict(END_TO_END) if not args.trace else dict(
        PER_LAYER + (STREAM_LAYER if "stream_ingest" in names else []))
    line = {}
    for n, values in line_metrics.items():
        # `all` runs several workloads: their result-line names carry the workload
        prefix = f"{n}." if len(names) > 1 else ""
        line.update({prefix + k: {"value": values[k], "unit": u} for k, u in units.items()
                     if values.get(k) is not None})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": line}))


def write_record(bdir, args, full):
    """Keep the full record; a traced record also states the tracing
    overhead against the untraced record of the same workload, seed,
    sources and parameters."""
    rdir = os.path.join(bdir, "records")
    os.makedirs(rdir, exist_ok=True)
    base = f"{args.workload}-seed{args.seed}-sec{args.seconds:g}"
    if args.trace:
        plain = os.path.join(rdir, base + "-trace0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                other = json.load(f)
            same = other["stamp"].get("source_sha256") == full["stamp"]["source_sha256"]
            untraced = other["workloads"]
            for n, r in full["workloads"].items():
                if not (same and n in untraced and untraced[n].get("params") == r["params"]):
                    r["overhead"] = {"unavailable": "the untraced record is of other sources "
                                     "or parameters: run --trace 0 again first"}
                else:
                    u = {m["name"]: m["value"] for m in untraced[n]["metrics"]}
                    r["overhead"] = {m["name"]: m["value"] - u[m["name"]]
                                     for m in r["metrics"]
                                     if isinstance(m["value"], (int, float))
                                     and isinstance(u.get(m["name"]), (int, float))}
        else:
            for r in full["workloads"].values():
                r["overhead"] = {"unavailable": "run the same command with --trace 0 first"}
    with open(os.path.join(rdir, f"{base}-trace{args.trace}.json"), "w") as f:
        json.dump(full, f, indent=1, default=str)


if __name__ == "__main__":
    main()
