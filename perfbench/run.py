#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload request_path --seed 1 --seconds 16 --trace 0

Builds the engine and the harness from source (once per source tree),
prepares the workload's inputs from the seed, runs the harness JVM,
checks every output and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Every run also leaves a full record (operations, environment, checks and
metrics) under .bench_build/perfbench/runs/, which compare.py reads.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("request_path", "registry_sweep", "heavy_skew")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
CORES = 4
HEAP = "4g"
# A run must end within 180 s once the build is done. The harness gets what
# is left after preparing the inputs; its sweep budget keeps a margin for
# the traced extras, writing the record and stopping Spark.
RUN_LIMIT_S = 172
HARNESS_MARGIN_S = 25
# registry_sweep: from 15 query families the query closest to the family's
# median cold time at sf0.01, preferring ones that build no artifact. The
# rank, graph, retrieval, dedup and scale families are left out to keep the
# cold pass near 20 s; request_path and heavy_skew run rank, retrieval and
# dedup queries.
REGISTRY_SAMPLE = [
    "q05_priority_by_region", "q12_langid", "q122_pq_assign", "q52_rag_retrieve",
    "q30_events_hourly", "q171_mutual_information", "q64_cohort_retention",
    "q71_price_deciles", "q81_surprisal", "q99_hll_cardinality",
    "q109_token_entropy", "q119_grouping_sets", "q124_dq_checks",
    "q144_decile_lift", "q219_woe_iv"]
# heavy_skew: the skew-sensitive operators the open scale items name. Traced
# runs also attribute the suffix-array, BPE and co-purchase-edge builds,
# whose consumers take too long to sit in every run.
HEAVY_QUERIES = [
    "q157_itemcf_recommend", "q154_setsim_join", "q169_dedup_keep_best",
    "q194_sorted_neighborhood", "q140_auc"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def work_dir():
    d = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(d, exist_ok=True)
    return d


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(work):
    """Compile engine + harness with the Scala compiler shipped in the Spark
    jars; skipped when the compiled tree matches the sources."""
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src")) for f in files):
        die("no engine sources under src/main/scala")
    digest = source_hash(files)
    classes = os.path.join(work, "classes")
    stamp = os.path.join(classes, ".source-hash")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    with open(os.path.join(tmp, ".source-hash"), "w") as f:
        f.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"[perfbench] built {len(files)} sources in {time.time() - t0:.1f} s", flush=True)
    return classes, digest


def jvm(classes, work, main, args, timeout, log):
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = (["java", *JVM_OPENS, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            "-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}", main] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def corpus_stats(d):
    import pyarrow.parquet as pq
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            p = os.path.join(d, f)
            size = (sum(os.path.getsize(os.path.join(p, x)) for x in os.listdir(p))
                    if os.path.isdir(p) else os.path.getsize(p))
            out[f[:-8]] = {"rows": pq.ParquetDataset(p).read(columns=[]).num_rows,
                           "bytes": size}
    return out


def prepare(args, work, classes):
    """Inputs for the workload; returns (corpus dir, extra harness args, state)."""
    corpora = os.path.join(work, "corpora")
    os.makedirs(corpora, exist_ok=True)
    if args.workload == "request_path":
        d = os.path.join(corpora, f"catalog-{args.seed}-{args.products}")
        vec = gen.catalog(args.seed, d, n=args.products)
        # keep the dozen most recent catalogues (~33 MB each)
        olds = sorted((os.path.join(corpora, x) for x in os.listdir(corpora)
                       if x.startswith("catalog-")), key=os.path.getmtime)
        for old in olds[:-12]:
            shutil.rmtree(old, ignore_errors=True)
        stream = gen.request_stream(args.seed, args.products)
        gen.write_stream(stream, vec, os.path.join(d, "requests.tsv"))
        return d, ["--requests", os.path.join(d, "requests.tsv")], \
            {"vectors": vec, "stream": stream, "key": f"seed {args.seed}, {args.products} products"}
    data = os.path.join(HERE, "data", "sf0.01")
    queries = args.queries.split(",") if args.queries else (
        HEAVY_QUERIES if args.workload == "heavy_skew" else REGISTRY_SAMPLE)
    extra = ["--deadline", str(args.deadline), "--queries", ",".join(queries)]
    if args.workload == "registry_sweep":
        return data, extra, {}
    d = os.path.join(corpora, "skew-sf0.01")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        rc = jvm(classes, work, "graft.SkewGen", [data, d, "orders", "parts"], 100,
                 os.path.join(work, "skewgen.log"))
        if rc != 0:
            die("SkewGen failed; see .bench_build/perfbench/skewgen.log")
        open(os.path.join(d, "_done"), "w").close()
    return d, extra, {}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # sizes for the benchmark's own test; the defaults are the benchmark
    ap.add_argument("--products", type=int, default=20000)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--deadline", type=float, default=60.0)
    ap.add_argument("--bless", action="store_true",
                    help="record this run's outputs as the expected ones")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources not found next to perfbench/")
    work = work_dir()
    classes, digest = build(work)
    t_prep = time.time()
    corpus, extra, state = prepare(args, work, classes)
    prep_s = time.time() - t_prep
    timeout = RUN_LIMIT_S - prep_s

    expected = os.path.join(HERE, "expected")
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    out = os.path.join(runs, tag + ".json")
    spans = os.path.join(runs, tag + ".spans.jsonl") if args.trace else None
    hargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--corpus", corpus, "--out", out,
             "--cores", str(CORES), "--budget", str(timeout - HARNESS_MARGIN_S)] + extra + \
        (["--spans", spans] if spans else [])
    log_path = os.path.join(runs, tag + ".log")
    log = os.path.relpath(log_path, ROOT)
    rc = jvm(classes, work, "perfbench.Main", hargs, timeout, log_path)
    if not os.path.exists(out):
        die(f"harness exited with {rc} and wrote no record; see {log}")
    if rc != 0:
        # the record is written before Spark stops, so it is complete
        print(f"perfbench: harness exited with {rc} after writing its record; see {log}",
              file=sys.stderr)
    with open(out) as f:
        rec = json.load(f)

    checks = metrics.check(args.workload, rec, expected, state)
    values = metrics.end_to_end(args.workload, rec) if args.trace == 0 else \
        metrics.per_layer(args.workload, rec)
    units = metrics.UNITS
    rec.update({"seed": args.seed, "workload": args.workload, "trace": args.trace,
                "source_hash": digest, "corpus": corpus_stats(corpus), "prep_s": prep_s,
                "checks": checks, "metrics": values, "commit": git_commit()})
    with open(out, "w") as f:
        json.dump(rec, f)
    if args.bless:
        metrics.bless(args.workload, rec, expected, state)

    for k, v in sorted(values.items()):
        probe = " (request-path probe over data/sf0.01)" if args.trace and \
            args.workload != "request_path" and k in metrics.REQUEST_LAYERS else ""
        print(f"[perfbench] {args.workload} {k} = {v:.6g} {units[k]}{probe}")
    if args.trace:
        for k, v in sorted(metrics.breakdown(args.workload, rec).items()):
            print(f"[perfbench] {args.workload} layer {k} = {v:.6g}")
    for msg in checks["problems"][:20]:
        print(f"[perfbench] check failed: {msg}")
    print(json.dumps({
        "correct": checks["wrong"] == 0,
        "attempted": checks["attempted"], "failed": checks["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
