#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

Writes every input the engine reads for one workload, and nothing else:

  news_elt           raw_news landing files, one parquet file per
                     micro-batch (<dir>/landing/batch_NNN.parquet) and
                     the read-back date windows (<dir>/sequence.json)
  corpus_curation    documents and embeddings tables in the graft.Tables
                     layout (<dir>/tables/<name>.parquet), the ANN query
                     ids and the seeded registry-query order
                     (<dir>/sequence.json)

plus <dir>/manifest.json with the row count and byte size of every file.
The same seed gives byte-identical files.
"""
import argparse
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Dataset sizes; perfbench/README.md says why they are this small.
CORPUS_DOCS = 5000
CORPUS_VECS = 3000
NEWS_ARTICLES = 4500
NEWS_BATCHES = 2

# graft.SparkEntry.queries templates the corpus client issues, by prefix:
# exact dedup, brute-force and IVF cosine top-k.
CORPUS_TEMPLATES = ["q22", "q26", "q42"]
CORPUS_ROUNDS = 2

DOC_VOCAB = ["spark", "window", "merge", "table", "column", "vector",
             "stream", "value", "data", "small", "join", "filter", "big",
             "group", "hash", "customer", "sort", "order", "slow", "line",
             "part", "fast", "row", "the", "agg", "key", "query", "a",
             "scan", "batch"]

EPOCH_DAY = dt.date(1970, 1, 1)


def day_us(d):
    return (d - EPOCH_DAY).days * 86_400_000_000


def write(table, path, manifest, root):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    manifest[os.path.relpath(path, root)] = {
        "rows": table.num_rows, "bytes": os.path.getsize(path)}


def documents_text(rng, n, vocab, probs, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.choice(len(vocab), size=int(lens.sum()), p=probs)
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(vocab[w] for w in words[pos:pos + k]))
        pos += k
    return out


# -------------------------------------------------------------- news_elt

NEWS_SOURCES = [("globalnews", "centre"), ("nationalpost", "right"),
                ("toronto_star", "left"), ("cbc", "centre"),
                ("ctvnews", "centre"), ("cp24", "left"),
                ("thestar", "left"), ("rebelnews", "right"),
                ("financialpost", "right")]
AUTHORS = [f"{f} {l}" for f in ["Anne", "Marc", "Lee", "Sara", "Omar",
                                "Julie", "Ravi", "Chloe"]
           for l in ["Tremblay", "Smith", "Roy", "Wong", "Gagnon", "Singh"]]
BOILER = [" trending now Read more stories", " Trending Now: more",
          " contact newsroom@example.ca for tips", " see www.example.ca now",
          "\\n\\nUpdated", ""]
SUBJECT_WORDS = ["data", "query", "Carney", "Poilievre"]


def gen_news(rng, out, manifest):
    """raw_news landing files: one row per (article version, author).

    Planted FIXTURES.md section 1 cases: NULL / 'www.facebook.com' /
    padded authors, NULL and mixed-case emails with literal backslash-n,
    NULL author urls (recoverable from sibling rows), NULL urls, NULL
    and sub-20-char content, blacklisted sources (toronto_star, cbc),
    rebelnews, french rows, subject mentions, boilerplate tails,
    embedded emails/urls, re-scraped versions with changed content and
    publish dates, and identical re-ingests in later micro-batches.
    Copies of one dedup key (title, source, url, content) always land in
    different micro-batches, so which copy the stream keeps is fixed by
    batch order and the oracle is exact.
    """
    na, nb = NEWS_ARTICLES, NEWS_BATCHES
    t0 = day_us(dt.date(2024, 1, 1))
    batch_span = 6 * 3_600_000_000  # all batches inside 24 h < watermark
    rows = []  # (batch, dict)

    def author_fields(a):
        r = rng.random()
        if r < 0.06:
            return None, None, None
        if r < 0.10:
            return "www.facebook.com", None, None
        name = AUTHORS[a]
        if r < 0.18:
            name = "  " + name + " "
        base = name.strip().lower().replace(" ", ".")
        email = None if rng.random() < 0.2 else (
            base.title() + "@Example.CA" + ("\\n" if rng.random() < 0.3
                                            else ""))
        url = None if rng.random() < 0.3 else f"https://news.ca/author/{a}"
        return name, email, url

    def content(words, boiler):
        if rng.random() < 0.05:
            return None
        if rng.random() < 0.03:
            return "Brief update."  # shorter than 20 chars
        return words + boiler

    next_id = 0
    for i in range(na):
        src, bias = NEWS_SOURCES[int(rng.integers(0, len(NEWS_SOURCES)))]
        title = f"Story {i} " + " ".join(
            DOC_VOCAB[int(j)] for j in rng.integers(0, len(DOC_VOCAB), 3))
        url = None if rng.random() < 0.03 else f"https://{src}.ca/a/{i}"
        nwords = int(rng.integers(6, 40))
        body = " ".join(DOC_VOCAB[int(j)]
                        for j in rng.integers(0, len(DOC_VOCAB), nwords))
        if rng.random() < 0.5:
            pos = int(rng.integers(0, len(body) + 1))
            body = (body[:pos] + " " + SUBJECT_WORDS[int(rng.integers(0, 4))]
                    + " " + body[pos:]).strip()
        boiler = BOILER[int(rng.integers(0, len(BOILER)))]
        lang = "french" if rng.random() < 0.1 else "english"
        author, email, aurl = author_fields(int(rng.integers(0, len(AUTHORS))))
        pub_day = int(rng.integers(0, 10))
        published = (day_us(dt.date(2024, 1, 1)) + pub_day * 86_400_000_000
                     + int(rng.integers(0, 86_400)) * 1_000_000)
        versions = 1 + int(rng.random() < 0.15)
        first_batch = int(rng.integers(0, nb - versions + 1))
        for v in range(versions):
            b = first_batch + v
            text = content(body if v == 0 else body + " updated", boiler)
            pub = published - v * 3_600_000_000 * int(rng.integers(0, 2))
            row = dict(source_name=src, source_country="ca",
                       category="politics", author=author,
                       author_email=email, author_page_url=aurl,
                       title=title, description=None, url=url,
                       publishedat=pub, article_content=text, bias=bias,
                       language=lang)
            rows.append((b, row))
            if rng.random() < 0.1 and b + 1 < nb:  # identical re-ingest
                rows.append((int(rng.integers(b + 1, nb)), dict(row)))

    by_batch = [[] for _ in range(nb)]
    for b, r in rows:
        by_batch[b].append(r)
    schema = pa.schema([
        ("id", pa.int64(), False), ("source_name", pa.string()),
        ("source_country", pa.string()), ("category", pa.string()),
        ("author", pa.string()), ("author_email", pa.string()),
        ("author_page_url", pa.string()), ("title", pa.string()),
        ("description", pa.string()), ("url", pa.string()),
        ("publishedat", pa.timestamp("us", tz="UTC")),
        ("article_content", pa.string()), ("bias", pa.string()),
        ("language", pa.string()),
        ("ingest_ts", pa.timestamp("us", tz="UTC"))])
    ldir = os.path.join(out, "landing")
    mtime0 = 1_700_000_000
    for b, batch in enumerate(by_batch):
        order = rng.permutation(len(batch))
        cols = {f.name: [] for f in schema}
        for j in order:
            r = batch[j]
            cols["id"].append(next_id)
            next_id += 1
            for c in schema.names[1:-1]:
                cols[c].append(r[c])
            cols["ingest_ts"].append(
                t0 + b * batch_span + int(rng.integers(0, batch_span)))
        arrays = []
        for f in schema:
            if pa.types.is_timestamp(f.type):
                arrays.append(pa.array(cols[f.name], pa.int64()).cast(f.type))
            else:
                arrays.append(pa.array(cols[f.name], f.type))
        path = f"{ldir}/batch_{b:03d}.parquet"
        write(pa.Table.from_arrays(arrays, schema=schema), path, manifest, out)
        # the file source orders micro-batches by modification time
        os.utime(path, (mtime0 + b, mtime0 + b))
    # read-back date windows (3 days each) over the publish-date range
    starts = sorted(int(d) for d in rng.choice(8, size=2, replace=False))
    windows = [str(dt.date(2024, 1, 1) + dt.timedelta(days=d))
               for d in starts]
    return {"batches": nb, "windows": windows}


# -------------------------------------------------------- corpus_curation

def synth_vocab(rng, n):
    syl = ["ka", "ro", "mi", "te", "su", "na", "lo", "ve", "di", "pa", "qu",
           "ex", "or", "an", "is", "th", "er", "in", "on", "al"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(1, 5))
        words.add("".join(syl[int(j)] for j in rng.integers(0, len(syl), k)))
    return sorted(words)


def gen_corpus(rng, out, manifest):
    nd, nv = CORPUS_DOCS, CORPUS_VECS
    vocab = synth_vocab(rng, 3000)
    ranks = np.arange(1, len(vocab) + 1)
    probs = (1.0 / ranks) / (1.0 / ranks).sum()  # Zipf word frequencies
    base = documents_text(rng, nd, vocab, probs, 20, 120)
    texts = list(base)
    # planted duplicates: exact re-ingests and near-duplicates with a few
    # word edits, so dedup, LSH verify and clustering all have work
    for i in range(nd):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, nd))]
        elif r < 0.17:
            w = texts[int(rng.integers(0, nd))].split()
            for _ in range(int(rng.integers(1, 4))):
                w[int(rng.integers(0, len(w)))] = vocab[
                    int(rng.integers(0, len(vocab)))]
            texts[i] = " ".join(w)
    langs = np.array(["en", "en", "fr", "de", "es", "zh"])
    tdir = os.path.join(out, "tables")
    write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, 6, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{tdir}/documents.parquet", manifest, out)

    dims, labels = 64, 10
    cent = rng.normal(0, 1, (labels, dims))
    lab = rng.integers(0, labels, nv)
    emb = cent[lab] + rng.normal(0, 0.8, (nv, dims))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())}),
        f"{tdir}/embeddings.parquet", manifest, out)
    ann = [int(q) for q in rng.choice(nv, size=2, replace=False)]
    seq = [CORPUS_TEMPLATES[i] for _ in range(CORPUS_ROUNDS)
           for i in rng.permutation(len(CORPUS_TEMPLATES))]
    return {"ann_queries": ann, "ann_cells": 16, "ann_k": 10,
            "queries": seq}


GENERATORS = {"news_elt": gen_news, "corpus_curation": gen_corpus}


def generate(workload, seed, out):
    # seed the stream with the workload name too: one --seed gives
    # independent inputs per workload
    tag = int(hashlib.md5(workload.encode()).hexdigest()[:8], 16)
    rng = np.random.default_rng([seed, tag])
    manifest = {}
    seq = GENERATORS[workload](rng, out, manifest)
    with open(os.path.join(out, "sequence.json"), "w") as f:
        json.dump(seq, f)
    info = {"workload": workload, "seed": seed, "files": manifest,
            "rows": sum(v["rows"] for v in manifest.values()),
            "bytes": sum(v["bytes"] for v in manifest.values())}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(info, f, indent=1, sort_keys=True)
    return info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    info = generate(a.workload, a.seed, a.out)
    print(json.dumps({"rows": info["rows"], "bytes": info["bytes"]}))


if __name__ == "__main__":
    main()
