#!/usr/bin/env python3
"""Layer-by-layer benchmark of the engine's user paths.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark (perfbench/build.py), generates the
workload's inputs from the seed (cached per seed under .bench_build),
runs one measuring JVM (graft.perfbench.Main), checks every job's
output, and prints as its last stdout line one JSON object with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1) that
BENCHMARK.json names.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

BUILD = build.BUILD
VOCAB_TAGS = 12000

# Input sizes; see README.md for how each was chosen.
WORKLOADS = {
    "tag_photos": {"images": 36, "lo": 800, "hi": 1200},
    "tag_thumbs": {"images": 200, "lo": 48, "hi": 128},
    "curate_docs": {"docs": 1400},
    "query_mix": {"scale": 0.05},
}
QUERIES = ["q1_pricing_summary", "q5_region_revenue", "q_assoc_rules", "dedup_minhash_lsh",
           "q_sink_partitioned"]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def java(main, args, timeout, heap="2g"):
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", *opens, "-cp", build.classpath(), main]
           + [str(a) for a in args])
    subprocess.run(cmd, check=True, timeout=timeout, stdout=sys.stderr)


def prepare(workload, seed):
    """Inputs of one (workload, seed), generated once and cached."""
    size = WORKLOADS[workload]
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    if workload == "query_mix":
        key += "-" + hashlib.sha256(" ".join(QUERIES).encode()).hexdigest()[:8]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{key}")
    if os.path.exists(os.path.join(d, "done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if "images" in size:
        java("graft.perfbench.Prep", [d, seed, size["images"], size["lo"], size["hi"]], 120, "1g")
        with open(os.path.join(d, "tag_mapping.json"), "wb") as f:
            f.write(gen.vocab_json(seed, VOCAB_TAGS))
    elif "docs" in size:
        gen.write_parquet(gen.docs_corpus(seed, size["docs"]), os.path.join(d, "corpus.parquet"))
    else:
        gen.tables(seed, size["scale"], os.path.join(d, "tables"))
        order = list(QUERIES)
        random.Random(seed).shuffle(order)
        with open(os.path.join(d, "queries.txt"), "w") as f:
            f.write("\n".join(order) + "\n")
    open(os.path.join(d, "done"), "w").close()
    return d


def run_checks(workload, inputs, out):
    if workload.startswith("tag_"):
        with open(os.path.join(out, "expected_tags.json")) as f:
            expected = json.load(f)
        with open(os.path.join(inputs, "malformed.txt")) as f:
            malformed = set(f.read().split())
        snaps = []
        for p in sorted(glob.glob(os.path.join(out, "sidecars_*.json"))):
            with open(p) as f:
                snaps.append(json.load(f))
        return check.check_tags(expected, snaps, malformed)
    if workload == "curate_docs":
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(inputs, "corpus.parquet"))
        corpus = dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        jobs = sorted(p for p in glob.glob(os.path.join(out, "curate", "job_*"))
                      if not os.path.basename(p).startswith("job_-"))
        survivors = [set(pq.read_table(p, columns=["doc_id"])["doc_id"].to_pylist())
                     for p in jobs]
        return check.check_curate(corpus, survivors)
    with open(os.path.join(out, "query_hashes.jsonl")) as f:
        records = [json.loads(x) for x in f if x.strip()]
    bad = check.oracle_failures(os.path.join(inputs, "tables"), os.path.join(out, "queries"),
                                sys.stderr)
    if bad:
        log(f"oracle mismatches: {sorted(bad)}")
    return check.check_queries(records, bad)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isdir("src/main/scala") and os.path.isfile("BENCHMARK.json")):
        sys.exit("run.py: run from the repository root (engine sources not found)")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    build.build()
    cores = len(os.sched_getaffinity(0))
    inputs = prepare(a.workload, a.seed)
    out = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    # the measuring JVM renames and writes into its inputs: give it a
    # hard-linked copy and keep the cache pristine
    work = os.path.join(out, "input")
    shutil.copytree(inputs, work, copy_function=os.link)
    try:
        java("graft.perfbench.Main", [a.workload, os.path.abspath(work), os.path.abspath(out),
                                      a.seconds, a.trace, 1 if a.trace else 2, cores], 160)
        with open(os.path.join(out, "result.json")) as f:
            r = json.load(f)
        attempted, failed = run_checks(a.workload, inputs, out)
    finally:
        shutil.rmtree(os.path.join(BUILD, "tmp"), ignore_errors=True)

    items = r["items_per_job"]
    if a.trace:
        values = dict(r["layers"])
        metrics = spec["per_layer"]
    else:
        jobs = r["jobs"]
        values = {
            "items_per_s": items * len(jobs) / sum(jobs),
            "job_s_p50": statistics.median(jobs),
            "cpu_ms_per_item": sum(r["cpu_ms"]) / (items * len(jobs)),
            "peak_rss_mb": statistics.median(r["rss_mb"]),
            "setup_s": statistics.median(r["setup_s"]),
        }
        metrics = spec["end_to_end"]
        print(f"jobs: {len(jobs)} x {items} items; setups: {r['setup_s']}")
        print(f"contention: foreign_cpu_s={r['foreign_cpu_s']:.2f} over {sum(jobs):.2f} s")
    print(f"failed_frac: {failed / attempted:.6f} ratio ({failed} of {attempted})")
    result = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
              for m in metrics}
    for name, v in result.items():
        print(f"{name}: {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
