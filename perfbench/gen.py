"""Seeded input generator for the perfbench workloads.

Every input is a pure function of (workload, seed, size): the same seed
gives byte-identical files. Each generator also returns the planted truth
the output checks compare against. Inputs are written once per
(workload, seed, size) key under the benchmark's work directory, so a
repeated run with the same seed skips generation entirely and generation
time never lands in a measured figure.

Vocabulary: the 31 words of the sf0.1 `documents` table (its entire
vocabulary) plus seeded synthetic words, so texts keep the shape of the
repo's test corpus while novel documents stay distinguishable.
"""
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the complete sf0.1 documents vocabulary (31 words)
BASE_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup").split()
# graft.functions.TextF.stopwords — the quality filter's stopword set
STOPWORDS = "the a an of and or is to in it on for".split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]

# default sizes; BENCHMARK.json's workload reasons restate them
SIZES = {
    "curate_index": {"docs": 1500},
    "ann_serve": {"vectors": 2000, "dim": 64, "clusters": 16,
                  "query_batches": 48, "batch": 64, "insert_batches": 20,
                  "insert_rows": 256, "ops": 4000},
    "stream_dedup": {"files": 40, "docs_per_file": 100},
}


def synth_vocab(rng, n):
    """n distinct pseudo-words of 2-4 syllables, none in BASE_VOCAB."""
    seen = set(BASE_VOCAB) | set(STOPWORDS)
    out = []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


# ---------------------------------------------------------------- curate

def _email(rng, vocab):
    a, b, c = (vocab[i] for i in rng.integers(0, len(vocab), 3))
    return f"{a}.{b}@{c}.org"


def _ipv4(rng):
    return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))


def curate(seed, out, docs):
    """Corpus with planted truth for the curation pipeline.

    Kinds: fluent (Markov-chain text, low LM entropy), noisy (uniform
    words, high LM entropy), low-quality (too short / no stopwords /
    repetitive), exact duplicates of earlier docs (identical, padded or
    re-cased copies), near-duplicates and contained copies. About one in
    eight fluent docs carries a lowercase email and/or IPv4 literal."""
    rng = np.random.default_rng([seed, 1])
    vocab = synth_vocab(rng, 3000)
    vocab_arr = np.array(vocab, dtype=object)
    stop_arr = np.array(STOPWORDS, dtype=object)
    chain_words = BASE_VOCAB + vocab[:400]
    succ = rng.integers(0, len(chain_words), (len(chain_words), 4))
    succ_p = np.array([0.55, 0.25, 0.12, 0.08])

    def fluent():
        n = int(rng.integers(30, 120))
        w = int(rng.integers(0, len(chain_words)))
        step = rng.choice(4, n, p=succ_p)
        stop = rng.random(n) < 0.12
        stop_w = rng.integers(0, len(STOPWORDS), n)
        toks = []
        for i in range(n):
            if stop[i]:
                toks.append(STOPWORDS[stop_w[i]])
            toks.append(chain_words[w])
            w = succ[w, step[i]]
        return toks

    def noisy():
        n = int(rng.integers(30, 120))
        words = vocab_arr[rng.integers(0, len(vocab), n)]
        stop = rng.random(n) < 0.12
        words[stop] = stop_arr[rng.integers(0, len(STOPWORDS), int(stop.sum()))]
        return list(words)

    ids, texts, langs, kinds = [], [], [], []
    originals = []  # (text, has PII literals) of fluent docs
    kind_p = [("fluent", 0.62), ("noisy", 0.10), ("short", 0.03),
              ("nostop", 0.03), ("repetitive", 0.03), ("dup", 0.11),
              ("near", 0.04), ("contained", 0.04)]
    names = [k for k, _ in kind_p]
    probs = np.array([p for _, p in kind_p])
    for doc_id in range(docs):
        kind = names[int(rng.choice(len(names), p=probs))]
        if kind in ("dup", "near", "contained") and not originals:
            kind = "fluent"
        if kind == "fluent":
            toks = fluent()
            lits = []
            if rng.random() < 0.125:
                lits.append(_email(rng, vocab))
            if rng.random() < 0.06:
                lits.append(_ipv4(rng))
            for lit in lits:
                toks.insert(int(rng.integers(0, len(toks) + 1)), lit)
            text = " ".join(toks)
            originals.append((text, bool(lits)))
        elif kind == "noisy":
            text = " ".join(noisy())
        elif kind == "short":
            text = " ".join(fluent()[:int(rng.integers(1, 5))])
        elif kind == "nostop":
            n = int(rng.integers(30, 80))
            text = " ".join(vocab_arr[rng.integers(0, len(vocab), n)])
        elif kind == "repetitive":
            base = fluent()[:int(rng.integers(3, 6))]
            text = " ".join(base * int(rng.integers(8, 20)))
        else:
            src, src_pii = originals[int(rng.integers(0, len(originals)))]
            toks = src.split(" ")
            if kind == "dup":
                v = int(rng.integers(0, 3))
                # pii_scrub's patterns are lowercase-only, so a re-cased
                # copy is only planted for a doc without PII literals
                if v == 2 and not src_pii:
                    text = src.upper()
                elif v == 1:
                    text = "  " + src + " "
                else:
                    text = src
            elif kind == "near":
                toks = list(toks)
                toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
                text = " ".join(toks)
            else:
                n = max(5, int(len(toks) * rng.uniform(0.6, 0.9)))
                s = int(rng.integers(0, len(toks) - n + 1))
                text = " ".join(toks[s:s + n])
        ids.append(doc_id)
        texts.append(text)
        langs.append(LANGS[int(rng.choice(5, p=LANG_P))])
        kinds.append(kind)
    _write(os.path.join(out, "docs.parquet"), {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 7}" for i in ids], pa.string())})
    return {"docs": docs,
            "low_quality": [i for i, k in zip(ids, kinds)
                            if k in ("short", "nostop", "repetitive")]}


# ------------------------------------------------------------------- ann

def ann_vectors(seed, vectors, dim, clusters, query_batches, batch,
                insert_batches, insert_rows, **_):
    """(base, queries, inserts, categories) as numpy arrays — a Gaussian
    mixture, so the data has the cluster structure IVF relies on."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(0.0, 1.0, (clusters, dim)) * 2.0

    def draw(n):
        c = rng.integers(0, clusters, n)
        return (centers[c] + rng.normal(0.0, 1.0, (n, dim))).astype(np.float32)

    base = draw(vectors)
    queries = draw(query_batches * batch).reshape(query_batches, batch, dim)
    inserts = draw(insert_batches * insert_rows).reshape(
        insert_batches, insert_rows, dim)
    cats = rng.integers(0, 10, vectors + insert_batches * insert_rows)
    return base, queries, inserts, cats


def allowed_cats(f):
    """Filter f admits categories f, f+1, f+2 (mod 10): ~30% selectivity."""
    return {f % 10, (f + 1) % 10, (f + 2) % 10}


def ann_plan(seed, ops, query_batches, insert_batches, **_):
    """Seeded op sequence with a fixed shape, so every run's prefix has the
    same mix: every tenth op inserts the next batch; the searches
    alternate ivf/ivfsq and every fourth search is filtered. The seed
    picks the query batches and the filters."""
    rng = np.random.default_rng([seed, 3])
    plan, searches, ins = [], 0, 0
    for i in range(ops):
        if i % 10 == 9 and ins < insert_batches:
            plan.append({"op": "insert", "batch": ins})
            ins += 1
            continue
        filt = int(rng.integers(0, 10)) if searches % 4 == 3 else -1
        plan.append({"op": "search", "index": ("ivf", "ivfsq")[searches % 2],
                     "batch": int(rng.integers(0, query_batches)),
                     "filter": filt})
        searches += 1
    return plan


def ann(seed, out, **size):
    base, queries, inserts, cats = ann_vectors(seed, **size)
    n, dim = base.shape
    vec = pa.list_(pa.float32())

    def rows(ids, arr):
        return {"id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(arr), vec)}

    _write(os.path.join(out, "base.parquet"), rows(np.arange(n), base))
    qb, qn = queries.shape[0], queries.shape[1]
    q = rows(np.arange(qb * qn), queries.reshape(-1, dim))
    _write(os.path.join(out, "queries.parquet"), {
        "batch": pa.array(np.repeat(np.arange(qb), qn), pa.int32()),
        "qid": q["id"], "qv": q["embedding"]})
    ib, ir = inserts.shape[0], inserts.shape[1]
    ins = rows(n + np.arange(ib * ir), inserts.reshape(-1, dim))
    _write(os.path.join(out, "inserts.parquet"), {
        "batch": pa.array(np.repeat(np.arange(ib), ir), pa.int32()), **ins})
    fids, fcol = [], []
    for f in range(10):
        ok = np.nonzero(np.isin(cats, list(allowed_cats(f))))[0]
        fids.append(ok)
        fcol.append(np.full(len(ok), f))
    _write(os.path.join(out, "filters.parquet"), {
        "filter": pa.array(np.concatenate(fcol), pa.int32()),
        "id": pa.array(np.concatenate(fids), pa.int64())})
    plan = ann_plan(seed, **size)
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f)
    return {"seed": seed, "vectors": n, "dim": dim}


# ---------------------------------------------------------------- stream

def stream(seed, out, files, docs_per_file):
    """File-arrival replay with planted truth. Novel docs draw 80% of
    their tokens from 20k synthetic words, so two novel docs never match
    any admission tier; from the second file on, ~8% of a file are exact
    copies, ~4% contained runs and ~4% one-token edits of earlier novel
    docs, which the ladder must drop."""
    rng = np.random.default_rng([seed, 4])
    vocab = synth_vocab(rng, 20000)

    vocab_arr = np.array(vocab, dtype=object)
    base_arr = np.array(BASE_VOCAB, dtype=object)

    def novel():
        n = int(rng.integers(30, 60))
        words = vocab_arr[rng.integers(0, len(vocab), n)]
        common = rng.random(n) < 0.2
        words[common] = base_arr[rng.integers(0, len(BASE_VOCAB), int(common.sum()))]
        return " ".join(words)

    def write_file(path, ids, texts):
        _write(path, {"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts, pa.string())})

    os.makedirs(os.path.join(out, "files"))
    truth = {"admit": [], "drop": []}
    earlier = []
    for i in range(files):
        ids, texts, admit, drop = [], [], [], []
        for j in range(docs_per_file):
            doc_id = i * 100000 + j
            r = rng.random() if earlier else 1.0
            if r < 0.16:
                src = earlier[int(rng.integers(0, len(earlier)))].split(" ")
                if r < 0.08:
                    text = " ".join(src)
                elif r < 0.12:
                    n = max(10, int(len(src) * rng.uniform(0.5, 0.9)))
                    s = int(rng.integers(0, len(src) - n + 1))
                    text = " ".join(src[s:s + n])
                else:
                    src[int(rng.integers(0, len(src)))] = vocab[int(rng.integers(0, len(vocab)))]
                    text = " ".join(src)
                drop.append(doc_id)
            else:
                text = novel()
                admit.append(doc_id)
            ids.append(doc_id)
            texts.append(text)
        admitted = set(admit)
        earlier.extend(t for d, t in zip(ids, texts) if d in admitted)
        write_file(os.path.join(out, "files", f"f{i:04d}.parquet"), ids, texts)
        truth["admit"].append(admit)
        truth["drop"].append(drop)
    return truth


GENERATORS = {"curate_index": curate, "ann_serve": ann, "stream_dedup": stream}


def ensure(work, workload, seed):
    """Generate (or reuse) the inputs for (workload, seed, size); returns
    (input dir, truth, generation seconds — 0.0 on reuse)."""
    size = SIZES[workload]
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = os.path.join(work, "inputs", f"{workload}-s{seed}-{key}")
    truth_path = os.path.join(d, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            return d, json.load(f), 0.0
    t0 = time.perf_counter()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = GENERATORS[workload](seed, tmp, **size)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d, truth, time.perf_counter() - t0
