"""Served-path benchmark of the graft engine. One command per run:

    python3 servebench/run.py --workload plan_tenants --seed 1 --seconds 20 --trace 0

Builds the engine and the JVM program from source (servebench/build.py), generates
the run's requests from the seed (workloads.py), replays them in a fresh JVM
(scala/ServeBench.scala), checks every answer against DuckDB (checks.py) and
prints the metrics. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 the per-layer ones, from a
traced replay of the same requests. The line before it stamps the environment.
See README.md for the workloads and what each metric should move.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

ROOT = build.ROOT
HEAP = "3g"
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[servebench] {msg}", file=sys.stderr, flush=True)


def data_dir() -> Path:
    d = Path(os.environ.get("SERVEBENCH_DATA", Path.home() / "testdata" / "sf0.01"))
    if not (d / "lineitem.parquet").exists():
        raise build.BuildError(f"TPC-H parquet not found in {d} (set SERVEBENCH_DATA)")
    return d


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_cpu():
    """Jiffies of /proc/stat's cpu line: (busy, steal)."""
    try:
        with open("/proc/stat") as stat:
            f = [int(x) for x in stat.readline().split()[1:]]
        return sum(f[:3]) + sum(f[5:7]), f[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def java(args, out_log: Path, tmp: Path):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *build.module_options(), f"-Djava.io.tmpdir={tmp}",
           "-cp", build.classpath(), "servebench.ServeBench", *args]
    with open(out_log, "w") as f:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=f, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"JVM still running after {JVM_TIMEOUT_S} s; killed")
            return -1
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def catalog(digest: str) -> dict:
    path = build.BUILD / f"catalog-{digest[:16]}.json"
    if not path.exists():
        tmp = build.BUILD / "catalog.tmp"
        tmp.mkdir(exist_ok=True)
        if java(["catalog", str(path)], tmp / "jvm.log", tmp) != 0:
            raise build.BuildError("catalog dump failed:\n" + (tmp / "jvm.log").read_text()[-3000:])
    return json.loads(path.read_text())


def git_rev():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def verdicts(plan, out, oracle):
    """Check every answer (timed, warm-up and traced) once per distinct body."""
    reqs = {r["id"]: r for r in plan["deploys"] + plan["warmup"] + plan["timed"]}
    bodies = out["bodies"]
    memo, errors = {}, []

    def ok(rid, status, digest):
        if status != 200:
            errors.append((rid, f"status {status}: {bodies.get(digest, '')[:300]}"))
            return False
        key = (digest, *(reqs[rid].get(k) for k in ("route", "query", "tenant", "entry")))
        if key not in memo:
            memo[key] = oracle.check(reqs[rid], bodies[digest])
        if memo[key]:
            errors.append((rid, memo[key]))
        return memo[key] is None

    timed = [{"id": r[0], "ok": ok(r[0], r[2], r[6]), "ms": (r[4] - r[3]) / 1e6, "bytes": r[5],
              "start": r[3], "end": r[4], "kind": reqs[r[0]].get("query") or reqs[r[0]].get("entry")}
             for r in out["timed"]["records"]]
    warm_ok = all([ok(r[0], r[2], r[6]) for r in out["warmup"]["records"]])
    trace_ok = True
    if out.get("trace"):
        trace_ok = all([ok(f["id"], 200, f["digest"]) for f in out["trace"]["flags"]])
    return timed, warm_ok and trace_ok, errors


def end_to_end(plan, out, timed, setup_s):
    lat = stats.latency_summary(timed)
    metrics = {
        "latency_p50_ms": (lat["latency_p50_ms"], "ms"),
        "throughput_rps": (stats.pass_throughput(timed, plan["pass_len"]), "1/s"),
        "live_heap_mb": (out["jvm"]["live_heap_mb"], "MB"),
        "setup_s": (setup_s, "s"),
    }
    return metrics, lat


def per_layer(plan, out, timed):
    tr = out["trace"]
    timed_ids = [r["id"] for r in plan["timed"]]
    timed_set = set(timed_ids)
    by_id = {r["id"]: r for r in plan["deploys"] + plan["warmup"] + plan["timed"]}
    spans = [(s[1], s[2], s[3], s[4]) for s in tr["spans"]]
    selfs = stats.self_times(spans)
    layer = {}  # (req, name) -> summed self ms
    dur = {}    # (req, name) -> summed duration ms
    for s, st in zip(tr["spans"], selfs):
        k = (s[0], s[1])
        layer[k] = layer.get(k, 0.0) + st / 1e6
        dur[k] = dur.get(k, 0.0) + (s[4] - s[3]) / 1e6

    def med_self(name):
        xs = [v for (rid, n), v in layer.items() if n == name and rid in timed_set]
        return stats.median(xs) if xs else 0.0

    root = {rid: dur[(rid, "request")] for rid in timed_ids if (rid, "request") in dur}
    flags = {f["id"]: f for f in tr["flags"] if f["id"] in timed_set}
    hits = [rid for rid, f in flags.items() if f["plan_cache_hit"]]
    misses = [rid for rid in timed_ids if rid in flags and not flags[rid]["plan_cache_hit"]]
    q = lambda ids: [layer[(rid, "engine.query")] for rid in ids]

    switch, same = [], []
    for prev, cur in zip(timed_ids, timed_ids[1:]):
        if cur in misses:
            (switch if by_id[prev]["manifest"] != by_id[cur]["manifest"] else same).append(
                layer[(cur, "engine.query")])

    http = {r["id"]: r["ms"] for r in timed}
    http_ids = [rid for rid in timed_ids if by_id[rid]["route"] != "entry" and rid in root]
    groups = tr["groups"]
    n = len(timed_ids)

    def spark_sum(key):
        return sum(groups.get(f"req-{rid}", {}).get(key, 0) for rid in timed_ids) / n

    probe = out["timed"]
    root_total = sum(root.values())
    layer_total = sum(v for (rid, name), v in layer.items() if rid in timed_set and name != "request")
    sql_kb = [flags[rid]["bytes"] / 1024 for rid in timed_ids
              if rid in flags and by_id[rid]["route"] == "dry-plan"]
    body_kb = [r["bytes"] / 1024 for r in timed if by_id[r["id"]]["route"] != "entry"]
    deploys = out["setup"]["deploy_ms"]
    m = {
        "api.http_ms": (stats.median([http[rid] - root[rid] for rid in http_ids]) if http_ids else 0.0, "ms"),
        "api.format_ms": (med_self("api.format"), "ms"),
        "api.response_kb": (stats.median(body_kb) if body_kb else 0.0, "KiB"),
        "engine.deploy_ms": (stats.median(deploys) if deploys else 0.0, "ms"),
        "engine.deploys": (probe["server_deploys"], "count"),
        "engine.session_ms": (med_self("engine.session"), "ms"),
        "engine.query_hit_ms": (stats.median(q(hits)) if hits else 0.0, "ms"),
        "engine.query_miss_ms": (stats.median(q(misses)) if misses else 0.0, "ms"),
        "engine.plan_cache_hit_ratio": (len(hits) / len(flags) if flags else 0.0, "ratio"),
        "engine.plan_cache_lookups": (len(flags), "count"),
        "engine.tenant_switch_ms": (stats.median(switch) - stats.median(same) if switch and same else 0.0, "ms"),
        "engine.reoptimize_ms": (med_self("engine.reoptimize"), "ms"),
        "semantics.unparse_ms": (med_self("semantics.unparse"), "ms"),
        "semantics.sql_kb": (stats.median(sql_kb) if sql_kb else 0.0, "KiB"),
        "operators.build_ms": (med_self("operators.build"), "ms"),
        "operators.exec_ms": (med_self("operators.exec"), "ms"),
        "spark.jobs_per_req": (spark_sum("jobs"), "count"),
        "spark.stages_per_req": (spark_sum("stages"), "count"),
        "spark.tasks_per_req": (spark_sum("tasks"), "count"),
        "spark.task_ms_per_req": (spark_sum("task_ms"), "ms"),
        "spark.task_cpu_ms_per_req": (spark_sum("task_cpu_ns") / 1e6, "ms"),
        "spark.shuffle_write_kb_per_req": (spark_sum("shuffle_write_bytes") / 1024, "KiB"),
        "spark.spill_kb_per_req": (spark_sum("spill_bytes") / 1024, "KiB"),
        "spark.persisted_rdds_growth": (probe["persisted_rdds_after"] - probe["persisted_rdds_before"], "count"),
        "spark.codegen_per_req": (probe["codegen_compiles"] / n, "count"),
        "jvm.gc_ms": (probe["gc_ms"], "ms"),
        "jvm.jit_ms_per_req": (probe["jit_ms"] / n, "ms"),
        "jvm.cpu_ms_per_req": (probe["cpu_ns"] / 1e6 / n, "ms"),
        "jvm.warmup_s": (out["warmup"]["wall_s"], "s"),
        "host.cpu_pressure_ms": (probe["cpu_pressure_us"] / 1e3, "ms"),
        "host.loadavg_1m": (probe["loadavg_1m"], "load"),
        "trace.root_ms": (stats.median(list(root.values())), "ms"),
        "trace.self_coverage": (layer_total / root_total if root_total else 0.0, "ratio"),
        "trace.wall_delta_ms_per_req": ((tr["wall_ns"] - probe["wall_ns"]) / 1e6 / n, "ms"),
    }
    return m


def entry_medians(plan, timed):
    """Median latency of each curation entry over the timed run, the values the
    gated p50 averages: they show which entry moved."""
    entry = {r["id"]: r.get("entry") for r in plan["timed"]}
    by = {}
    for r in timed:
        if r["ok"] and entry[r["id"]]:
            by.setdefault(entry[r["id"]], []).append(r["ms"])
    return {e: stats.median(xs) for e, xs in sorted(by.items())}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    try:
        digest = build.build(log=sys.stderr)
        cat = catalog(digest)
        data = data_dir()
        oracle = checks.Oracle(data, cat, build.BUILD / "oracle")
        oracle.prepare(workloads.CURATE_ENTRIES)
    except build.BuildError as e:
        log(f"cannot run: {e}")
        return 1

    plan = workloads.generate(a.workload, a.seed, a.seconds, cat)
    run_dir = build.BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    n = cores()
    plan.update(data_dir=str(data), cores=n, shuffle_partitions=n, trace=a.trace,
                local_dir=str(run_dir / "spark-local"), warehouse_dir=str(run_dir / "warehouse"),
                profiles_dir=str(run_dir / "profiles"))
    (run_dir / "plan.json").write_text(json.dumps(plan))

    t_spawn = time.time()
    h0 = host_cpu()
    code = java(["run", str(run_dir / "plan.json"), str(run_dir / "out.json")], run_dir / "jvm.log", run_dir)
    if code != 0 or not (run_dir / "out.json").exists():
        log(f"JVM exited with {code}; log tail:\n" + (run_dir / "jvm.log").read_text()[-3000:])
        return 1
    out = json.loads((run_dir / "out.json").read_text())
    h1 = host_cpu()
    setup_s = out["setup"]["end_epoch_us"] / 1e6 - t_spawn

    t_checks = time.time()
    timed, others_ok, errors = verdicts(plan, out, oracle)
    log(f"jvm {t_checks - t_spawn:.1f} s, checked {len(out['bodies'])} distinct answers "
        f"in {time.time() - t_checks:.1f} s")
    for rid, err in errors[:10]:
        log(f"request {rid} wrong: {err}")
    if a.trace:
        metrics = per_layer(plan, out, timed)
        lat = stats.latency_summary(timed)
    else:
        metrics, lat = end_to_end(plan, out, timed, setup_s)

    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_rev": git_rev(), "source_digest": digest,
        "clients": plan["clients"], "cores": n, "shuffle_partitions": n, "heap": HEAP,
        "warmup_requests": len(plan["warmup"]), "timed_requests": len(plan["timed"]),
        "latency_samples": lat["samples"], "latency_kinds": lat["kinds"],
        "latency_median_ms": lat["latency_median_ms"], "failure_rate": lat["failure_rate"],
        "latency_p90_ms": lat["latency_p90_ms"],
        "timed_rps_overall": sum(1 for r in timed if r["ok"]) / (out["timed"]["wall_ns"] / 1e9), "entry_p50_ms": entry_medians(plan, timed),
        "setup_s": setup_s, "server_deploys_timed": out["timed"]["server_deploys"],
        "deploy_ms": out["setup"]["deploy_ms"], "spark_ready_ms": out["setup"]["spark_ready_ms"],
        "warmup_s": out["warmup"]["wall_s"], "gc_ms": out["timed"]["gc_ms"],
        "jit_ms": out["timed"]["jit_ms"], "codegen_compiles": out["timed"]["codegen_compiles"],
        "host_cpu_pressure_ms": out["timed"]["cpu_pressure_us"] / 1e3,
        "host_loadavg_1m": out["timed"]["loadavg_1m"],
        "host_steal_ms": (h1[1] - h0[1]) * 10, "host_busy_ms": (h1[0] - h0[0]) * 10,
        "cpu_ms_per_req": out["timed"]["cpu_ns"] / 1e6 / len(plan["timed"]),
        "timed_wall_s": out["timed"]["wall_ns"] / 1e9, "jvm_s": time.time() - t_spawn,
        "jvm": out["jvm"], "spark": out["spark"],
    }
    print(json.dumps({"servebench_stamp": stamp}))
    (build.BUILD / "results").mkdir(exist_ok=True)
    (build.BUILD / "results" / f"{a.workload}-{a.seed}-{a.trace}.json").write_text(
        json.dumps({"stamp": stamp, "metrics": metrics, "errors": errors[:50],
                    "warmup_ms": [[r[0], (r[4] - r[3]) / 1e6] for r in out["warmup"]["records"]],
                    "timed_ms": [[r["id"], r["ms"]] for r in timed]}))
    shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": lat["failed"] == 0 and others_ok,
        "attempted": lat["attempted"],
        "failed": lat["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
