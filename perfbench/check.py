"""Output checks of the benchmark. Each returns (attempted, failed):
items the workload attempted over all checked jobs, and those whose
result is missing or wrong."""
import contextlib
import importlib.util
import json
import os


def check_tags(expected, snapshots, malformed):
    """Every side-car equals, byte for byte, the independent
    recomputation (`expected`: image -> tags); exactly the planted
    malformed images have none. `snapshots`: one image -> content-or-None
    map per job."""
    attempted = failed = 0
    for snap in snapshots:
        for img, got in snap.items():
            attempted += 1
            want = None if img in malformed else expected.get(img)
            if got != want or (want is None and img not in malformed):
                failed += 1
    return attempted, failed


def quality(text):
    ws = text.split(" ")
    stop = sum(w in ("the", "a", "of", "and", "in", "to", "is") for w in ws)
    return (0.4 * min(len(text) / 500.0, 1.0) + 0.3 * len(set(ws)) / len(ws)
            + 0.3 * (1.0 - stop / len(ws)))


def shingles(text, n=3):
    ws = text.split(" ")
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 0.0


def near_dup_components(docs, threshold=0.8):
    """Exact-Jaccard (word 3-shingle) components over `docs` (id -> text):
    id -> component root, via an inverted shingle index."""
    sh = {i: shingles(t) for i, t in docs.items()}
    index = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    parent = {i: i for i in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for i, s in sh.items():
        seen = set()
        for g in s:
            for j in index[g]:
                if j > i and j not in seen:
                    seen.add(j)
                    if jaccard(s, sh[j]) >= threshold:
                        parent[find(j)] = find(i)
    return {i: find(i) for i in docs}


def check_curate(corpus, survivor_sets, min_quality=0.5):
    """`corpus`: doc_id -> text; one survivor id set per job. Every
    planted exact duplicate is gone (only the min id of an identical-text
    group may survive); every removed near-duplicate has a kept partner
    in its exact-Jaccard >= 0.8 component; the survivor set is identical
    across jobs. Each violating document counts once per job."""
    good = {i: t for i, t in corpus.items() if quality(t) >= min_quality}
    groups = {}
    for i, t in good.items():
        groups.setdefault(t, []).append(i)
    keepers = {min(g) for g in groups.values()}
    exact_dups = set(good) - keepers
    comp = near_dup_components({i: good[i] for i in keepers})
    attempted = failed = 0
    for k, surv in enumerate(survivor_sets):
        attempted += len(corpus)
        bad = exact_dups & surv
        kept_roots = {comp[i] for i in surv if i in comp}
        bad |= {i for i in keepers - surv if comp[i] not in kept_roots}
        if k > 0:
            bad |= surv ^ survivor_sets[0]
        failed += len(bad)
    return attempted, failed


def check_queries(records, oracle_failed):
    """`records`: dicts (job, name, rows, hash); job -1 is the capture
    the oracle checked. Every later pass must reproduce its (rows, hash);
    a query that failed the oracle fails on every pass."""
    ref = {r["name"]: (r["rows"], r["hash"]) for r in records if r["job"] == -1}
    attempted = failed = 0
    for r in records:
        if r["job"] < 0:
            continue
        attempted += 1
        if r["name"] in oracle_failed or ref.get(r["name"]) != (r["rows"], r["hash"]):
            failed += 1
    return attempted, failed


def oracle_failures(tables_dir, out_dir, log):
    """Names of captured query outputs that differ from the DuckDB
    oracle, compared with the rules of tools/verify_local.py."""
    spec = importlib.util.spec_from_file_location("verify_local", "tools/verify_local.py")
    vl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vl)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = vl.fresh_con(tables_dir)
    bad = set()
    with contextlib.redirect_stdout(log):
        for name, sql in sorted(oracle.items()):
            if not vl.check_one(con, name, sql, tables_dir, out_dir).startswith("pass"):
                bad.add(name)
    return bad
