"""Seeded input generator for the pipeline benchmark.

Every workload's input is a directory of parquet tables (one directory of
part files per table, the layout `graft.connect.ParquetConnector` reads)
plus the facts the output checks need: row counts, bytes and planted counts
in `meta.json`, and workload-specific expected results. The same
(workload, size, seed) always yields byte-identical files; a different seed
yields different data.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = 4  # part files per table: one read split per core at local[4]

# Input sizes. `SIZES[w]` is recorded in meta.json and keys the cache.
SIZES = {
    "etl_roundtrip": {"orders": 150_000, "lines_per_order": 4},
    "curate_chain": {"docs": 1_500},
    "graph_cc": {"components": 100, "chain": 200, "chord_share": 0.25},
}

LANGS = ["en", "zh", "es", "de", "fr"]
LANG_SHARE = [0.44, 0.15, 0.15, 0.14, 0.12]  # the shared testdata's mix
STOPWORDS = ["the", "a", "of", "and", "to", "in"]
SYLLABLES = {
    "en": ["th", "er", "on", "an", "re", "st", "ing", "ed", "or", "al"],
    "zh": ["zh", "ang", "shi", "xi", "ao", "li", "ming", "qu", "hu", "en"],
    "es": ["es", "ar", "os", "ci", "on", "que", "la", "do", "ra", "ue"],
    "de": ["ein", "sch", "ung", "ge", "ich", "ber", "st", "au", "ie", "ck"],
    "fr": ["eau", "ou", "qu", "ai", "ment", "re", "oi", "es", "le", "ion"],
}
# Non-ASCII words, so the text path sees multi-byte UTF-8 as real corpora do.
ACCENTED = {"en": [], "zh": ["数据", "管道", "模型"], "es": ["año", "más", "está"],
            "de": ["größe", "über", "straße"], "fr": ["été", "français", "déjà"]}


def write_table(table, out_dir, name):
    """Write `table` as PARTS part files under `<out_dir>/<name>.parquet/`."""
    d = os.path.join(out_dir, name + ".parquet")
    os.makedirs(d)
    n = table.num_rows
    step = -(-n // PARTS)
    for i in range(PARTS):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(d, f"part-{i:05d}.parquet"),
                       compression="snappy")


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(d) for f in fs)


def gen_etl(rng, size, out):
    n_orders = size["orders"]
    okeys = rng.permutation(n_orders).astype(np.int64) * 4 + 1
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_orders // 10, n_orders, dtype=np.int64),
        "o_nationkey": rng.integers(0, 25, n_orders, dtype=np.int32),
        "o_orderdate": pa.array(
            rng.integers(8035, 10592, n_orders).astype("datetime64[D]")),
        "o_priority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])[rng.integers(0, 5, n_orders)]),
    })
    per = rng.integers(1, 2 * size["lines_per_order"], n_orders)
    l_okey = np.repeat(okeys, per)
    n_lines = len(l_okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    lineitem = pa.table({
        "l_orderkey": l_okey,
        "l_linenumber": (np.arange(n_lines) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines, dtype=np.int64),
        "l_price_cents": rng.integers(90_000, 10_500_000, n_lines, dtype=np.int64),
        "l_discount_pct": rng.integers(0, 11, n_lines, dtype=np.int64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
        "l_shipmode": pa.array(
            np.array(["AIR", "MAIL", "RAIL", "SHIP", "TRUCK"])[rng.integers(0, 5, n_lines)]),
    })
    write_table(orders, out, "orders")
    write_table(lineitem, out, "lineitem")
    # The oracle: the aggregate the pipeline writes and reads back, computed
    # by DuckDB over the same parquet (the pipeline's SQL, see Workloads).
    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT o.o_nationkey, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
               l.l_returnflag, COUNT(*) AS n_lines,
               SUM(l.l_quantity) AS qty,
               SUM(l.l_price_cents * (100 - l.l_discount_pct)) AS revenue
        FROM '{out}/lineitem.parquet/*.parquet' l
        JOIN '{out}/orders.parquet/*.parquet' o ON l.l_orderkey = o.o_orderkey
        GROUP BY ALL""").fetchall()
    con.close()
    with open(os.path.join(out, "expected.tsv"), "w") as f:
        f.writelines(sorted("\t".join(str(v) for v in r) + "\n" for r in rows))
    return {"rows": {"orders": n_orders, "lineitem": n_lines},
            "input_rows": n_orders + n_lines, "groups": len(rows)}


def lang_vocab(rng, lang, n=1500):
    syl = SYLLABLES[lang]
    words = set()
    while len(words) < n:
        k = rng.integers(2, 5)
        words.add("".join(syl[j] for j in rng.integers(0, len(syl), k)))
    words = sorted(words) + ACCENTED[lang]
    return [words[i] for i in rng.permutation(len(words))]


def gen_curate(rng, size, out):
    n = size["docs"]
    vocab = {l: lang_vocab(rng, l) for l in LANGS}
    zipf = {l: 1.0 / np.arange(1, len(v) + 1) ** 0.9 for l, v in vocab.items()}
    for z in zipf.values():
        z /= z.sum()
    n_exact = n // 10
    n_near = n // 10
    n_base = n - n_exact - n_near
    langs, texts = [], []
    for _ in range(n_base):
        lang = LANGS[rng.choice(len(LANGS), p=LANG_SHARE)]
        n_words = int(rng.integers(14, 64))
        words = list(np.array(vocab[lang])[rng.choice(len(vocab[lang]), n_words, p=zipf[lang])])
        for j in np.nonzero(rng.random(n_words) < 0.08)[0]:
            words[j] = STOPWORDS[rng.integers(0, len(STOPWORDS))]
        langs.append(lang)
        texts.append(" ".join(words))
    # Planted copies always take higher doc_ids than their originals, so the
    # exact dedup (lowest doc_id wins) must drop every planted exact copy.
    src_exact = rng.integers(0, n_base, n_exact)
    src_near = rng.integers(0, n_base, n_near)
    for s in src_exact:
        langs.append(langs[s])
        texts.append(texts[s])
    for s in src_near:  # one appended word: word 3-shingle Jaccard >= 0.93
        langs.append(langs[s])
        texts.append(texts[s] + " " + vocab[langs[s]][rng.integers(0, 50)])
    # doc_ids follow generation order; rows are stored shuffled.
    doc_ids = np.arange(n, dtype=np.int64) * 7 + 3
    order = rng.permutation(n)
    docs = pa.table({
        "doc_id": doc_ids[order],
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array([langs[i] for i in order]),
        "source": pa.array([f"src{i % 97}" for i in order]),
        "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
    })
    write_table(docs, out, "documents")
    exact_ids = doc_ids[n_base:n_base + n_exact]
    with open(os.path.join(out, "exact_dups.txt"), "w") as f:
        f.writelines(f"{i}\n" for i in exact_ids)
    return {"rows": {"documents": n}, "input_rows": n,
            "planted_exact": int(n_exact), "planted_near": int(n_near)}


# graph_cc's per-component checksum: sum over nodes of (node * MIX) % MOD,
# so a node moved between components changes two checksums.
MIX, MOD = 2654435761, 1000003


def gen_graph(rng, size, out):
    k, chain = size["components"], size["chain"]
    n_nodes = k * chain
    # Every component has the same shape: one chain whose positions hold
    # the component's ids in a fixed relative order, plus chords between
    # fixed positions. The seed draws which ids each component gets and the
    # row order. cc's round count depends only on that shape, so every seed
    # costs the same number of rounds; with per-seed shapes it ranged from
    # 14 to 21.
    shape = np.random.default_rng(0)
    rank = shape.permutation(chain)
    n_chords = int(size["chord_share"] * (chain - 1))
    a, b = shape.integers(0, chain, n_chords), shape.integers(0, chain, n_chords)
    ids = rng.permutation(n_nodes).astype(np.int64) * 13 + 5
    comp_nodes = np.sort(ids.reshape(k, chain), axis=1)[:, rank]
    src = np.concatenate([comp_nodes[:, :-1].ravel(), comp_nodes[:, a].ravel()])
    dst = np.concatenate([comp_nodes[:, 1:].ravel(), comp_nodes[:, b].ravel()])
    perm = rng.permutation(len(src))
    flip = rng.random(len(src)) < 0.5
    s, d = src[perm], dst[perm]
    edges = pa.table({"src": np.where(flip, d, s), "dst": np.where(flip, s, d)})
    write_table(edges, out, "edges")
    label = np.repeat(comp_nodes.min(axis=1), chain)
    nodes = comp_nodes.ravel()
    truth = pa.table({"node": nodes, "expected": label})
    write_table(truth, out, "truth")
    mix = (nodes.astype(object) * MIX) % MOD
    with open(os.path.join(out, "expected.tsv"), "w") as f:
        f.writelines(sorted(
            f"{comp_nodes[i].min()}\t{chain}\t{int(mix[i * chain:(i + 1) * chain].sum())}\n"
            for i in range(k)))
    return {"rows": {"edges": len(src)}, "input_rows": int(len(src)),
            "nodes": int(n_nodes), "planted_components": int(k)}


GENERATORS = {"etl_roundtrip": gen_etl, "curate_chain": gen_curate,
              "graph_cc": gen_graph}


def generate(workload, seed, out_dir):
    """Generate `workload`'s input for `seed` into `out_dir` (replaced)."""
    size = SIZES[workload]
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    meta = GENERATORS[workload](rng, size, out_dir)
    meta.update(workload=workload, seed=seed, size=size,
                input_bytes=dir_bytes(out_dir))
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    return meta


def cached(workload, seed, cache_root):
    """The input directory for (workload, size, seed), generated on a miss."""
    key = json.dumps(SIZES[workload], sort_keys=True).encode()
    tag = hashlib.sha256(key).hexdigest()[:8]
    d = os.path.join(cache_root, f"{workload}-{tag}-s{seed}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        tmp = d + ".tmp"
        generate(workload, seed, tmp)
        if os.path.exists(d):
            shutil.rmtree(d)
        os.rename(tmp, d)
    return d


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py <{'|'.join(GENERATORS)}> <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
