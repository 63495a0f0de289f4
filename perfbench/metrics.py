"""Output checks and metric reduction for one harness run record."""
import hashlib
import json
import os
import statistics

import numpy as np

# ------------------------------------------------------------------ checks

def fingerprint(responses):
    h = hashlib.sha256(json.dumps(responses, sort_keys=True).encode())
    return h.hexdigest()[:16]


def check(workload, rec, expected_dir, state):
    """Check every measured output. An operation that raised, missed its
    deadline or returned a wrong output counts as failed; `wrong` counts
    the outputs that were returned but are not the expected ones."""
    problems = []
    failed = wrong = 0
    ops = rec["ops"]
    want = load(expected_dir, workload)
    if workload == "request_path":
        v = state["vectors"].astype(np.float64)
        vec = (v, np.linalg.norm(v, axis=1))
    for o in ops:
        if not o["ok"]:
            bad, is_wrong = o.get("error", "error"), False
        elif workload == "request_path":
            bad, is_wrong = (check_recommend(o, vec, state["stream"])
                             if o["kind"] == "recommend" else check_answer(o)), True
        else:
            exp = want.get(o["name"])
            got = {"rows": o["rows"], "checksum": o["checksum"]}
            bad, is_wrong = (None if got == exp else f"rows/checksum {got} != expected {exp}"), True
        if bad:
            failed += 1
            wrong += is_wrong
            problems.append(f"{o['kind']} {o['name']}: {bad}")
    if workload == "request_path":
        if rec["chunk_failures"]:
            failed += rec["chunk_failures"]
            wrong += rec["chunk_failures"]
            problems.append(f"{rec['chunk_failures']} answers hold chunks of another product")
        warm = rec["warmup"]
        rec["fingerprint"] = fp = fingerprint(warm[0])
        if any(w != warm[0] for w in warm[1:]):
            wrong += 1
            problems.append("set-up repetitions returned different responses")
        exp = want.get("fingerprints", {}).get(state["key"])
        if exp is not None and exp != fp:
            wrong += 1
            problems.append(f"response fingerprint {fp} != expected {exp}")
    return {"attempted": len(ops), "failed": failed, "wrong": wrong, "problems": problems}


def check_answer(o):
    n = len(o["chunks"])
    return None if 1 <= n <= 3 else f"{n} chunks"


def check_recommend(o, vec, stream):
    ids, has_price = o["ids"], o["has_price"]
    if len(ids) != 10 or len(set(ids)) != 10:
        return f"{len(set(ids))} distinct ids of {len(ids)}"
    if any(a < b for a, b in zip(has_price, has_price[1:])):
        return "not ordered has-price-first"
    if any(h != (i % 7 != 0) for i, h in zip(ids, has_price)):
        return "has_price disagrees with the catalogue"
    # every result must come from the exact cosine top-200 of the query
    v, norms = vec
    q = v[stream[int(o["name"][1:])][0]]
    sims = np.round(v @ q / (norms * np.linalg.norm(q)), 6)
    floor = np.sort(sims)[-200] - 2e-6
    if any(sims[i] < floor for i in ids):
        return "result outside the exact cosine top-200"
    return None


def bless(workload, rec, expected_dir, state):
    """Merge this run's outputs into the expected file of the workload."""
    want = load(expected_dir, workload)
    if workload == "request_path":
        want.setdefault("fingerprints", {})[state["key"]] = rec["fingerprint"]
    else:
        for o in rec["ops"]:
            if o["ok"]:
                want[o["name"]] = {"rows": o["rows"], "checksum": o["checksum"]}
    with open(os.path.join(expected_dir, workload + ".json"), "w") as f:
        json.dump(want, f, indent=1, sort_keys=True)
        f.write("\n")


def load(expected_dir, name):
    p = os.path.join(expected_dir, name + ".json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


# ----------------------------------------------------------------- metrics

# End-to-end metrics, printed by every untraced run. A "pass" is the
# workload's unit of work: one interaction (a recommendation and its
# questions) on request_path, one cold pass over the query list on the sweeps.
END_TO_END = {
    "setup_s": "s",        # JVM start to the session being ready, plus the median of 3 set-ups
    "wall_s": "s",         # wall time per pass
    "cpu_s": "s",          # process CPU time of the measured phase, per pass
    "peak_heap_mb": "MB",  # live heap retained at the end of the measured phase
}
# Per-layer metrics, printed by every traced run. The request-path layers
# (REQUEST_LAYERS) come from the measured interactions on request_path. A
# traced run must print every per-layer metric, so on the sweeps they come
# from a short probe of the request path over data/sf0.01, run after the
# pass: they describe that probe, not the sweep.
PER_LAYER = {
    "rank.score_ms": "ms", "rank.mmr_ms": "ms", "qa.retrieve_ms": "ms",
    "spark.plan_ms": "ms", "spark.jobs_per_recommend": "count",
    "spark.tasks_per_recommend": "count", "spark.jobs_per_answer": "count",
    "vector.rows_per_result": "rows", "jvm.gc_ms_per_request": "ms",
    "spark.plan_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.task_skew": "ratio", "plan.single_partition_windows": "count",
    "plan.sort_merge_joins": "count", "plan.broadcast_joins": "count",
    "plan.window_group_limits": "count", "trace.wall_s": "s", "trace.overhead_s": "s",
}
UNITS = {**END_TO_END, **PER_LAYER}
REQUEST_LAYERS = (
    "rank.score_ms", "rank.mmr_ms", "qa.retrieve_ms", "spark.plan_ms",
    "spark.jobs_per_recommend", "spark.tasks_per_recommend", "spark.jobs_per_answer",
    "vector.rows_per_result", "jvm.gc_ms_per_request")


def med(xs):
    return float(statistics.median(xs)) if xs else 0.0


def passes(workload, ops):
    """The measured operations grouped into passes: one per interaction on
    request_path, the single cold pass on the sweeps."""
    if workload != "request_path":
        return [ops]
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o)
    return list(out.values())


def end_to_end(workload, rec):
    ps = passes(workload, rec["ops"])
    return {
        "setup_s": rec["boot_s"] + statistics.median(rec["setup_s"]),
        "wall_s": med([sum(o["wall_ms"] for o in p) / 1e3 for p in ps]),
        "cpu_s": rec["measure_cpu_s"] / len(ps),
        "peak_heap_mb": rec["peak_heap_mb"],
    }


def request_layers(ops, layers):
    rec_ops = [o for o in ops if o["kind"] == "recommend" and o["ok"]]
    ans = [o for o in ops if o["kind"] == "answer" and o["ok"]]
    by_req = {}
    for o in ops:
        by_req[o["name"]] = by_req.get(o["name"], 0.0) + o["gc_ms"]
    return {
        "rank.score_ms": med(layers["rank.score"]),
        "rank.mmr_ms": med(layers["rank.mmr"]),
        "qa.retrieve_ms": med(layers["qa.retrieve"]),
        "spark.plan_ms": med(layers["spark.plan"]),
        "spark.jobs_per_recommend": med([o["jobs"] for o in rec_ops]),
        "spark.tasks_per_recommend": med([o["tasks"] for o in rec_ops]),
        "spark.jobs_per_answer": med([o["jobs"] for o in ans]),
        "vector.rows_per_result": med([o["input_rows"] / len(o["ids"]) for o in rec_ops]),
        "jvm.gc_ms_per_request": statistics.mean(by_req.values()) if by_req else 0.0,
    }


def per_layer(workload, rec):
    if workload == "request_path":
        m = request_layers(rec["ops"], rec["layers"])
    else:
        m = request_layers(rec["probe"]["ops"], rec["probe"]["layers"])
    ps = passes(workload, rec["ops"])
    plan_ms = rec["layers"]["plan_by_op"]

    def per_pass(f):
        return med([sum(f(o) for o in p) for p in ps])

    m.update({
        "spark.plan_s": per_pass(lambda o: plan_ms.get(o["op"], 0.0)) / 1e3,
        "spark.jobs": per_pass(lambda o: o.get("jobs", 0)),
        "spark.tasks": per_pass(lambda o: o.get("tasks", 0)),
        "spark.gc_s": per_pass(lambda o: o.get("exec_gc_ms", 0)) / 1e3,
        "spark.shuffle_write_mb": per_pass(lambda o: o.get("shuffle_write_bytes", 0)) / 2**20,
        "spark.spill_mb": per_pass(lambda o: o.get("spill_bytes", 0)) / 2**20,
        "spark.task_skew": max([o.get("task_skew", 1.0) for p in ps for o in p] or [1.0]),
        "trace.wall_s": end_to_end(workload, rec)["wall_s"],
        "trace.overhead_s": per_pass(lambda o: o.get("trace_overhead_ms", 0)) / 1e3,
    })
    for k in ("single_partition_windows", "sort_merge_joins", "broadcast_joins",
              "window_group_limits"):
        m["plan." + k] = per_pass(lambda o: o.get("census", {}).get(k, 0))
    return m


def breakdown(workload, rec):
    """Traced-run detail that is not a metric: time per query family and
    per build-once artifact, and whether q157's plan keeps WindowGroupLimit."""
    out = {}
    if workload == "request_path":
        return out
    for o in rec["ops"]:
        f = o["family"]
        out[f + ".wall_s"] = out.get(f + ".wall_s", 0.0) + o["wall_ms"] / 1e3
        out[f + ".cpu_s"] = out.get(f + ".cpu_s", 0.0) + o["cpu_ms"] / 1e3
        if o["name"] == "q157_itemcf_recommend":
            out["q157.window_group_limit"] = o.get("census", {}).get("window_group_limits", 0)
    for art, a in rec["artifacts"].items():
        out[f"artifacts.{art}_s"] = (a["cold_ms"] - a["warm_ms"]) / 1e3
    return out
