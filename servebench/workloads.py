"""Seeded request generator. The same (workload, seed, seconds) always gives a
byte-identical plan; the JVM program only replays what it is handed.

Every timed run sends a fixed number of requests: `seconds` times the
workload's nominal rate on the reference box, rounded up to whole passes. A
pass holds each of the workload's distinct requests once, in a seeded order, so
every seed sends the same mix and state that grows per request grows by the
same amount in every run.
"""
import json
import math
import random

TENANTS = 4
# Marks bound through x-wren-variable-tenant_mark. None is a substring of
# another, and none can be an l_orderkey at the scale factors used, so the
# row-level rule keeps every row and each response names its tenant.
TENANT_MARKS = [7100000001 + k * 100000000 for k in range(TENANTS)]
# Shuffle- and CPU-heavy training-data entries with DuckDB oracles: MinHash
# near-dup (persists intermediates), ER fuzzy pairs and the curation pipeline.
# Each takes ~0.5-0.7 s warm, so no one entry dominates the timed wall time (s2
# takes ~0.5 s, d4 ~1.4 s); d6 and d9 need 3-7 s on a JVM's first pass.
CURATE_ENTRIES = ["d2_dedup_minhash", "er1_fuzzy_pairs", "p1_curate"]

# clients: closed-loop callers of the timed run; warmup_clients: callers of
# the warm-up passes, sent before timing to get past the JIT knee (the JIT
# counts calls, not seconds, so concurrent callers reach it sooner: on
# plan_tenants a second caller fills the ~40 ms each reply waits for the
# client's delayed ACK; on curate_batch more than two starve the compiler
# threads); bridge_passes: warm-up passes sent after the full GC, from the
# timed run's clients; rate: requests per second of --seconds, which sizes
# the timed run in whole passes.
WORKLOADS = {
    "serve_tpch": {"clients": 2, "warmup_clients": 2, "warmup_passes": 2, "bridge_passes": 0, "rate": 2.3},
    "plan_tenants": {"clients": 1, "warmup_clients": 2, "warmup_passes": 3, "bridge_passes": 0, "rate": 3.6},
    "curate_batch": {"clients": 1, "warmup_clients": 2, "warmup_passes": 10, "bridge_passes": 1, "rate": 2.5},
}


def compact(obj) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def tenant_manifest(base: dict, k: int) -> dict:
    """The TPC-H manifest under its own catalog, with one row-level rule."""
    m = json.loads(json.dumps(base))
    m["catalog"] = f"tenant{k}"
    for model in m["models"]:
        if model["name"] == "lineitem":
            model["rowLevelAccessControls"] = [{
                "name": f"tenant{k}_rows",
                "condition": "l_orderkey <> @tenant_mark",
                "requiredProperties": [{"name": "tenant_mark", "required": True}],
            }]
    return m


def tenant_headers(k: int) -> dict:
    return {"x-wren-variable-tenant_mark": str(TENANT_MARKS[k])}


def passes_needed(workload: str, seconds: int, pass_len: int) -> int:
    return max(1, math.ceil(seconds * WORKLOADS[workload]["rate"] / pass_len))


def generate(workload: str, seed: int, seconds: int, catalog: dict) -> dict:
    """The request plan for one run: deploys, warm-up and timed requests."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; known: {sorted(WORKLOADS)}")
    cfg = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    names = sorted(catalog["tpch_sql"])
    reqs = []

    def add(route, body=None, headers=None, manifest=-1, **tags):
        r = {"id": len(reqs), "route": route, "body": compact(body) if body else "",
             "headers": headers or {}, "manifest": manifest}
        r.update(tags)
        reqs.append(r)
        return r

    if workload == "serve_tpch":
        manifests = [compact(catalog["tpch_manifest"])]
        deploys = [add("metadata/schemas", {"manifestStr": manifests[0]}, manifest=0)]
        units = [(q,) for q in names]
        send = lambda q: add("query", {"sql": catalog["tpch_sql"][q], "manifestStr": manifests[0]},
                             manifest=0, query=q)
    elif workload == "plan_tenants":
        manifests = [compact(tenant_manifest(catalog["tpch_manifest"], k)) for k in range(TENANTS)]
        deploys = [add("metadata/schemas", {"manifestStr": manifests[k]}, tenant_headers(k),
                       manifest=k, tenant=k) for k in range(TENANTS)]
        units = [(k, q) for k in range(TENANTS) for q in names]

        def send(k, q):
            # the comment makes each SQL text unique, so every request misses
            # the plan cache; the planner drops it with the other whitespace
            sql = f"/* servebench {seed}:{len(reqs)} */ {catalog['tpch_sql'][q]}"
            return add("dry-plan", {"sql": sql, "manifestStr": manifests[k], "dialect": "duckdb"},
                       tenant_headers(k), manifest=k, tenant=k, query=q)
    else:
        manifests = []
        deploys = []
        units = [(e,) for e in CURATE_ENTRIES]
        send = lambda e: add("entry", entry=e)

    def passes(n):
        out = []
        for _ in range(n):
            order = list(units)
            rng.shuffle(order)
            out += [send(*u) for u in order]
        return out

    warmup = passes(cfg["warmup_passes"])
    timed = passes(passes_needed(workload, seconds, len(units)))
    return {
        "workload": workload, "seed": seed, "clients": cfg["clients"], "pass_len": len(units),
        "warmup_clients": cfg["warmup_clients"], "bridge": cfg["bridge_passes"] * len(units),
        "manifests": manifests, "deploys": deploys, "warmup": warmup, "timed": timed,
    }
