"""Seeded input generators for the benchmark's text and table workloads.

Everything here is a pure function of (seed, size): the same arguments
write byte-identical files. Images are generated on the JVM side
(src/graft/perfbench/Prep.scala) because the Python stack here has no
image encoders.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "of", "and", "in", "to", "is"]
CATEGORIES = ["general", "character", "artist", "copyright", "meta", "model"]
CATEGORY_WEIGHTS = [0.60, 0.15, 0.15, 0.05, 0.04, 0.01]


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _words(rng, n, lo=3, hi=9):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        w = "".join(rng.choice(letters, rng.integers(lo, hi + 1)))
        if w not in seen and w not in STOPWORDS:
            seen.add(w)
            out.append(w)
    return out


def vocab_json(seed, n_tags):
    """A reference-format (schema A) tag mapping: 4 rating tags, 5
    quality tags, the rest drawn from the other six categories. A few
    meta names carry blacklisted substrings so the anti-filter runs."""
    rng = _rng(seed, 1)
    stems = _words(rng, n_tags, 3, 8)
    cats = rng.choice(CATEGORIES, n_tags, p=CATEGORY_WEIGHTS)
    idx_to_tag, tag_to_cat = {}, {}
    for i in range(n_tags):
        if i < 4:
            name, cat = ["general", "sensitive", "questionable", "explicit"][i], "rating"
        elif i < 9:
            name, cat = f"{['best', 'high', 'normal', 'low', 'worst'][i - 4]}_quality", "quality"
        else:
            cat = str(cats[i])
            name = f"{stems[i]}_{stems[(i * 7) % n_tags]}"
            if cat == "meta" and i % 3 == 0:
                name += "_commentary"
        idx_to_tag[str(i)] = name
        tag_to_cat[name] = cat.capitalize() if i % 5 == 0 else cat
    return json.dumps({"idx_to_tag": idx_to_tag, "tag_to_category": tag_to_cat},
                      separators=(",", ":")).encode()


def docs_corpus(seed, n_docs):
    """A curation corpus with planted shares: ~10% low quality, ~10%
    exact duplicates and ~10% near-duplicates (two word substitutions)
    of good documents. Returns the pyarrow table (doc_id, text); ids are
    a seeded permutation, so keepers are not always the originals."""
    rng = _rng(seed, 2)
    lexicon = np.array(_words(rng, 3000))
    n_low = n_exact = n_near = n_docs // 10
    n_good = n_docs - n_low - n_exact - n_near
    texts = []
    for _ in range(n_good):
        ws = list(rng.choice(lexicon, rng.integers(60, 121)))
        for j in np.nonzero(rng.random(len(ws)) < 0.08)[0]:
            ws[j] = STOPWORDS[rng.integers(len(STOPWORDS))]
        texts.append(" ".join(ws))
    for _ in range(n_low):
        ws = [STOPWORDS[k] for k in rng.integers(0, len(STOPWORDS), rng.integers(4, 13))]
        texts.append(" ".join(ws))
    for k in rng.integers(0, n_good, n_exact):
        texts.append(texts[k])
    for k in rng.integers(0, n_good, n_near):
        ws = texts[k].split(" ")
        for j in rng.choice(len(ws), 2, replace=False):
            ws[j] = str(rng.choice(lexicon))
        texts.append(" ".join(ws))
    ids = rng.permutation(len(texts)).astype(np.int64)
    order = np.argsort(ids)
    return pa.table({"doc_id": pa.array(ids[order]),
                     "text": pa.array([texts[i] for i in order])})


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]")),
                    pa.timestamp("us"))


def tables(seed, scale, out_dir):
    """The TPC-H-like fixture schema (region … embeddings) at `scale`
    times the sf0.1 row counts, with the same column types, value
    ranges and uniform distributions."""
    rng = _rng(seed, 3)
    n = lambda base: max(1, int(round(base * scale)))
    n_cust, n_supp, n_part = n(15000), n(1000), n(20000)
    n_ord, n_line, n_ev, n_doc, n_emb = n(150000), n(600000), n(100000), n(5000), n(2000)
    cents = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(-999.99, 9999.99, n_supp)})
    adjectives = ["blue", "hot", "large", "small", "red", "green", "cold", "light"]
    nouns = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n_part),
                                              rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day = 86400.0
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": cents(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * day)})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * day, n_ev))),
        "user_id": pa.array(rng.integers(0, max(2, n_ev // 66), n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(100.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lexicon = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
               "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
               "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
               "a", "scan", "batch"]
    texts = [" ".join(rng.choice(lexicon, rng.integers(10, 101))) for _ in range(n_doc)]
    for i in range(0, n_doc - 1, 20):  # planted near-duplicate pairs for the dedup queries
        ws = texts[i].split(" ")
        ws[rng.integers(len(ws))] = "dup"
        texts[i + 1] = " ".join(ws)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 1.0, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))
