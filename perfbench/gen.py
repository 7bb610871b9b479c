"""Seeded input generator for the benchmark.

Three input families, each written as parquet the program reads through
its ordinary table loaders:

* ``dna``: related-genome files for k-mer counting. One base genome over
  ACGT; every file is a copy with its own point substitutions, truncated
  to N bases (the reference's ``truncator.sh``). One row per file in
  ``genomes.parquet`` (``file_id, text``).
* ``zipf``: ``documents.parquet`` with the harness schema
  (``doc_id, text, lang, source, n_chars``). Words are drawn from a Zipf
  law over a vocabulary of distinct seeded words; near-duplicate chains
  are planted by copying a document and editing a few words per link.
* ``loops``: a small ``documents.parquet`` from the same generator plus
  a co-purchase ``lineitem.parquet`` (the columns the graph operators
  read), with Zipf part popularity so the k-core has a dense centre.

Every family is a pure function of (seed, parameters): the output
directory is keyed by both, and a finished directory carries a
``meta.json`` that is reused instead of regenerating.
"""
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FAMILIES = {
    "dna": {"genome_bases": 300_000, "files": 8, "sub_rate": 0.002},
    "zipf": {"docs": 2_500, "vocab": 400_000, "zipf_s": 0.9,
             "min_words": 100, "max_words": 300, "chains": 150, "chain_len": 4,
             "edit_frac": 0.03},
    "loops": {"docs": 1_000, "vocab": 20_000, "zipf_s": 1.0,
              "min_words": 30, "max_words": 90, "chains": 40, "chain_len": 3,
              "edit_frac": 0.03, "orders": 2_000, "parts": 300,
              "max_lines": 12, "part_zipf_s": 0.8},
}

LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.5, 0.15, 0.15, 0.12, 0.08])
ALPHABET = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def family_dir(root, family, seed):
    params = json.dumps(FAMILIES[family], sort_keys=True)
    key = hashlib.sha1(f"{family}:{seed}:{params}".encode()).hexdigest()[:12]
    return os.path.join(root, f"{family}-{seed}-{key}")


def ensure(root, family, seed):
    """Generate ``family`` for ``seed`` under ``root`` once; return (dir, meta)."""
    out = family_dir(root, family, seed)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, sorted(FAMILIES).index(family)])
    meta = GENERATORS[family](rng, tmp, FAMILIES[family])
    meta["family"], meta["seed"], meta["params"] = family, seed, FAMILIES[family]
    meta["input_mb"] = sum(
        os.path.getsize(os.path.join(tmp, n)) for n in os.listdir(tmp)) / 1e6
    meta["content_digest"] = content_digest(tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, meta


def content_digest(d):
    """sha256 over every table's rows, independent of parquet encoding."""
    h = hashlib.sha256()
    for name in sorted(n for n in os.listdir(d) if n.endswith(".parquet")):
        h.update(name.encode())
        t = pq.read_table(os.path.join(d, name))
        for col in t.column_names:
            h.update(col.encode())
            h.update(repr(t.column(col).to_pylist()).encode())
    return h.hexdigest()


def write(d, name, table):
    pq.write_table(table, os.path.join(d, name), row_group_size=1 << 20)


# ---------------------------------------------------------------- dna

def gen_dna(rng, d, p):
    n = p["genome_bases"]
    bases = np.frombuffer(b"ACGT", dtype=np.uint8)
    base = rng.integers(0, 4, size=n + n // 10, dtype=np.uint8)
    texts = []
    for _ in range(p["files"]):
        g = base[:n].copy()
        n_sub = rng.binomial(n, p["sub_rate"])
        pos = rng.integers(0, n, size=n_sub)
        g[pos] = (g[pos] + rng.integers(1, 4, size=n_sub, dtype=np.uint8)) % 4
        texts.append(bases[g].tobytes().decode("ascii"))
    write(d, "genomes.parquet", pa.table({
        "file_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
    }))
    return {"rows": len(texts), "bases": n * len(texts),
            "distinct_kmers": {str(k): distinct_kmers(texts, k) for k in (8, 31)}}


def distinct_kmers(texts, k):
    """Exact distinct k-mer count, 2-bit packed (k <= 31)."""
    code = np.zeros(256, dtype=np.uint64)
    code[np.frombuffer(b"ACGT", dtype=np.uint8)] = np.arange(4, dtype=np.uint64)
    packed = []
    for t in texts:
        c = code[np.frombuffer(t.encode("ascii"), dtype=np.uint8)]
        w = np.zeros(len(c) - k + 1, dtype=np.uint64)
        for i in range(k):
            w = (w << np.uint64(2)) | c[i:len(c) - k + 1 + i]
        packed.append(np.unique(w))
    return int(np.unique(np.concatenate(packed)).size)


# --------------------------------------------------------------- text

def vocabulary(rng, size):
    """``size`` distinct lowercase words, 2-10 letters, in random order."""
    words = set()
    while len(words) < size:
        m = (size - len(words)) * 2
        lens = rng.integers(2, 11, size=m)
        letters = ALPHABET[rng.integers(0, 26, size=int(lens.sum()))].tobytes().decode()
        cut = np.concatenate([[0], np.cumsum(lens)])
        for i in range(m):
            words.add(letters[cut[i]:cut[i + 1]])
            if len(words) == size:
                break
    words = sorted(words)
    rng.shuffle(words)
    return np.array(words, dtype=object)


def zipf_docs(rng, p):
    vocab = vocabulary(rng, p["vocab"])
    ranks = np.arange(1, p["vocab"] + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -p["zipf_s"])
    cdf /= cdf[-1]
    n_docs = p["docs"]
    n_chain_docs = p["chains"] * (p["chain_len"] - 1)
    n_base = n_docs - n_chain_docs
    lens = rng.integers(p["min_words"], p["max_words"] + 1, size=n_base)
    ids = np.minimum(np.searchsorted(cdf, rng.random(int(lens.sum()))), p["vocab"] - 1)
    cut = np.concatenate([[0], np.cumsum(lens)])
    docs = [ids[cut[i]:cut[i + 1]] for i in range(n_base)]
    # near-duplicate chains: each link copies the previous one and
    # replaces a few word positions, so MinHash sees a similar pair
    heads = rng.choice(n_base, size=p["chains"], replace=False)
    for h in heads:
        prev = docs[h]
        for _ in range(p["chain_len"] - 1):
            nxt = prev.copy()
            n_edit = max(1, int(len(nxt) * p["edit_frac"]))
            pos = rng.integers(0, len(nxt), size=n_edit)
            nxt[pos] = np.minimum(
                np.searchsorted(cdf, rng.random(n_edit)), p["vocab"] - 1)
            docs.append(nxt)
            prev = nxt
    order = rng.permutation(n_docs)
    texts = [" ".join(vocab[docs[j]]) for j in order]
    distinct = int(np.unique(np.concatenate(docs)).size)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, {"rows": n_docs, "words": int(sum(len(x) for x in docs)),
                   "distinct_words": distinct}


def gen_zipf(rng, d, p):
    table, meta = zipf_docs(rng, p)
    write(d, "documents.parquet", table)
    return meta


def gen_loops(rng, d, p):
    table, meta = zipf_docs(rng, p)
    write(d, "documents.parquet", table)
    n_lines = rng.integers(1, p["max_lines"] + 1, size=p["orders"])
    okeys = np.repeat(np.arange(1, p["orders"] + 1, dtype=np.int64), n_lines)
    pop = np.arange(1, p["parts"] + 1, dtype=np.float64) ** -p["part_zipf_s"]
    parts = rng.choice(np.arange(1, p["parts"] + 1, dtype=np.int64), size=okeys.size,
                       p=pop / pop.sum())
    ship = np.datetime64("1995-01-01") + rng.integers(0, 2000, size=okeys.size)
    write(d, "lineitem.parquet", pa.table({
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(parts),
        "l_suppkey": pa.array(parts % 97 + 1),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"),
                               type=pa.timestamp("us", tz="UTC")),
    }))
    meta["lineitem_rows"] = int(okeys.size)
    return meta


GENERATORS = {"dna": gen_dna, "zipf": gen_zipf, "loops": gen_loops}

if __name__ == "__main__":
    # usage: gen.py <out_root> <family> <seed>
    out, meta = ensure(sys.argv[1], sys.argv[2], int(sys.argv[3]))
    print(out)
    print(json.dumps(meta, indent=1, sort_keys=True))
