"""Output checks and metrics for the perfbench workloads.

`evaluate` reads what the client wrote (ops.jsonl, summary.json and, in a
traced run, trace_raw.json), checks every op's outputs against the
generator's planted truth, and computes the end-to-end metrics from the
ops that passed, or the per-layer metrics from the trace. A failed op
(exception or failed check) is counted with its reason and never timed.
"""
import hashlib
import json
import os
import re
import statistics

import numpy as np

import gen

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "items_per_s": "1/s",
              "cache_mb": "MB"}
PRIMARY = {"curate_index": "repetition", "ann_serve": "search",
           "stream_dedup": "trigger"}

PER_LAYER = {
    "pipeline.construct.ms": "ms",
    "pipeline.action.planning_ms": "ms",
    "pipeline.action.jobs": "count",
    "pipeline.action.ms": "ms",
    "pipeline.action.task_cpu_ms": "ms",
    "pipeline.action.shuffle_mb": "MB",
    "pipeline.stage.lm_score.ms": "ms",
    "sink.ivfsq.ms": "ms",
    "sink.ivfsq.jobs": "count",
    "sources.input_mb": "MB",
    "core.gc_ms": "ms",
    "index.build.ivf.ms": "ms",
    "index.build.ivfsq.ms": "ms",
    "index.build.jobs": "count",
    "index.load.ms": "ms",
    "index.search.ivf.ms": "ms",
    "index.search.ivfsq.ms": "ms",
    "index.search.filtered.ms": "ms",
    "index.search.jobs": "count",
    "index.search.tasks": "count",
    "index.search.planning_ms": "ms",
    "index.search.driver_gap_ms": "ms",
    "index.search.shuffle_mb": "MB",
    "index.rows_scored_per_query": "count",
    "index.append.ms": "ms",
    "index.files": "count",
    "index.bytes_per_vector": "bytes",
    "index.recall_at_10": "ratio",
    "streaming.add_batch.ms": "ms",
    "streaming.jobs_per_trigger": "count",
    "streaming.trigger.task_cpu_ms": "ms",
    "streaming.trigger.shuffle_mb": "MB",
    "streaming.wal_commit.ms": "ms",
    "streaming.commit_offsets.ms": "ms",
    "streaming.latest_offset.ms": "ms",
    "streaming.planning.ms": "ms",
    "streaming.state_mb": "MB",
    "streaming.state_files": "count",
    "streaming.state_write_amp": "ratio",
    "streaming.compact.ms": "ms",
    "streaming.restart.ms": "ms",
    "bench.op_fail_ratio": "ratio",
    "bench.gen_s": "s",
    "trace.overhead_pct": "%",
}

# ann_serve: mean recall@10 over a run's searches, per index kind; the
# client searches with k = 10 and nprobe = 2 of 8 clusters
K = 10
RECALL_FLOOR = {"ivf": 0.95, "ivfsq": 0.85}
EMAIL = re.compile(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", re.I)
IPV4 = re.compile(r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b")
MB = 1024.0 * 1024.0


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ checks

def check_curate(truth, ops, summary, bad, failures, out):
    n = truth["docs"]
    low = set(truth["low_quality"])
    digests = {}
    for o in ops:
        if o["op"] in bad:
            continue
        with open(o["survivors"]) as f:
            rows = [l.split("\t", 1) for l in f.read().splitlines() if l]
        ids = [int(i) for i, _ in rows]
        problems = []
        if any(i < 0 or i >= n for i in ids) or len(set(ids)) != len(ids):
            problems.append("survivors are not a subset of the input")
        if sorted(ids) != o["codes"]:
            problems.append(f"{len(o['codes'])} saved codes for {len(ids)} survivors")
        keys = [hashlib.md5(t.strip(" ").lower().encode()).hexdigest() for _, t in rows]
        if len(set(keys)) != len(keys):
            problems.append(f"{len(keys) - len(set(keys))} survivors share a normalized-text hash")
        leaked = sum(1 for _, t in rows if EMAIL.search(t) or IPV4.search(t))
        if leaked:
            problems.append(f"{leaked} survivors still carry an email or IPv4 literal")
        if low & set(ids):
            problems.append(f"{len(low & set(ids))} planted low-quality docs survived")
        if problems:
            bad[o["op"]] = "; ".join(problems)
        digests[o["op"]] = hashlib.sha256(
            "\n".join(f"{i}\t{t}" for i, t in sorted(rows, key=lambda r: int(r[0])))
            .encode()).hexdigest()
    if digests:
        ref = digests[min(digests)]
        for op, d in digests.items():
            if d != ref and op not in bad:
                bad[op] = "survivor digest differs from the first repetition"
    return {}


def _nearest(x, cents, n):
    d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
    return np.argsort(d, axis=1, kind="stable")[:, :n]


def check_ann(truth, ops, summary, bad, failures, out):
    size = gen.SIZES["ann_serve"]
    base, queries, inserts, cats = gen.ann_vectors(truth["seed"], **size)
    n, dim = base.shape
    rows = inserts.shape[1]
    allv = np.concatenate([base, inserts.reshape(-1, dim)]).astype(np.float64)
    present = np.zeros(len(allv), bool)
    present[:n] = True
    cents = {k: np.array(v, np.float64) for k, v in summary["centroids"].items()}
    assign = {k: _nearest(allv, c, 1)[:, 0] for k, c in cents.items()}
    recall = {"ivf": [], "ivfsq": []}
    scored = []
    for o in ops:
        if o["kind"] == "insert":
            b = o["batch"]
            present[n + b * rows:n + (b + 1) * rows] = True
            continue
        if o["op"] in bad or o["kind"] != "search":
            continue
        f = o["filter"]
        ok = present & (np.isin(cats, list(gen.allowed_cats(f))) if f >= 0 else True)
        qv = queries[o["batch"]].astype(np.float64)
        qids = o["batch"] * qv.shape[0] + np.arange(qv.shape[0])
        res = o["results"]
        problems = []
        if sorted(int(q) for q in res) != sorted(qids.tolist()):
            problems.append(f"{len(res)} of {len(qids)} queries answered")
        cand = np.nonzero(ok)[0]
        d = ((qv[:, None, :] - allv[None, cand, :]) ** 2).sum(-1)
        exact = cand[np.argpartition(d, K - 1, axis=1)[:, :K]]
        hits = 0
        for j, q in enumerate(qids):
            got = res.get(str(q), [])
            if len(got) != K or len(set(got)) != K:
                problems.append(f"query {q} returned {len(got)} rows")
                break
            if not all(0 <= g < len(allv) and ok[g] for g in got):
                problems.append(f"query {q} returned an id outside the "
                                + ("allowed set" if f >= 0 else "index"))
                break
            hits += len(set(got) & set(exact[j].tolist()))
        if problems:
            bad[o["op"]] = "; ".join(problems)
            continue
        recall[o["index"]].append(hits / (K * len(qids)))
        probed = _nearest(qv, cents[o["index"]], 2)
        scored.append(sum(int(np.isin(assign[o["index"]][cand], p).sum())
                          for p in probed) / len(qids))
    for kind, rs in recall.items():
        if rs and sum(rs) / len(rs) < RECALL_FLOOR[kind]:
            failures.append(f"{kind} mean recall@10 {sum(rs) / len(rs):.3f} "
                            f"below the floor {RECALL_FLOOR[kind]}")
    every = recall["ivf"] + recall["ivfsq"]
    idx = os.path.join(out, "index")
    files = [os.path.join(r, f) for r, _, fs in os.walk(idx) for f in fs
             if f.endswith(".parquet")]
    return {"index.recall_at_10": sum(every) / len(every) if every else 0.0,
            "index.rows_scored_per_query": median(scored),
            "index.files": len(files),
            "index.bytes_per_vector":
                sum(os.path.getsize(f) for f in files) / max(1, int(present.sum()))}


def check_stream(truth, ops, summary, bad, failures, out):
    admitted = {}
    for doc, batch in summary["admitted"]:
        admitted.setdefault(batch, set()).add(doc)
    want_all, got_all = set(), set()
    for o in ops:
        i = int(o["file"][1:5]) if "file" in o else -1
        if i >= 0:
            want_all |= set(truth["admit"][i])
        if o["op"] in bad:
            continue
        want = set(truth["admit"][i])
        got = admitted.get(o["batch"] + 1, set())
        got_all |= got
        if got != want:
            bad[o["op"]] = (f"file {i}: {len(got - want)} admitted docs are planted "
                            f"duplicates, {len(want - got)} novel docs not admitted")
    if summary.get("compacted") and \
            summary["admitted_before_compact"] != summary["admitted_after_compact"]:
        failures.append("admitted set changed across compactState")
    every = set(d for ds in admitted.values() for d in ds)
    if every != want_all:
        failures.append(f"admitted digest differs from the planted truth "
                        f"({len(every - want_all)} extra, {len(want_all - every)} missing)")
    return {"streaming.state_mb": summary["state_bytes"] / MB,
            "streaming.state_files": summary["state_files"],
            "streaming.state_write_amp":
                summary["state_written_bytes"] / max(1, summary["landed_bytes"])}


CHECKS = {"curate_index": check_curate, "ann_serve": check_ann,
          "stream_dedup": check_stream}


# ----------------------------------------------------------------- metrics

def end_to_end(workload, good, summary, truth):
    prim = [o for o in good if o["kind"] == PRIMARY[workload]]
    if workload == "curate_index":
        p50 = median([o["ms"] for o in prim])
        items = truth["docs"] * 1000.0 / p50 if p50 else None
    elif workload == "ann_serve":
        p50 = median([o["ms"] for o in prim])
        batch = gen.SIZES["ann_serve"]["batch"]
        items = batch * 1000.0 / p50 if p50 else None
    else:
        p50 = median([o["batch_ms"] for o in prim])
        docs = sum(len(truth["admit"][int(o["file"][1:5])]) +
                   len(truth["drop"][int(o["file"][1:5])]) for o in prim)
        wall = (prim[-1]["start_ms"] + prim[-1]["ms"] - prim[0]["start_ms"]) if prim else 0
        items = docs * 1000.0 / wall if wall else None
    return {"setup_s": summary["setup_s"], "op_p50_ms": p50 or None,
            "items_per_s": items, "cache_mb": summary["cache_peak_mb"]}


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spans_with_counters(raw):
    """Attribute every job (with its stages' task metrics) and every
    planning record to the innermost span open when it started, then
    roll counters up to the ancestors. Adds ms, self_ms, driver_gap_ms and
    the counter fields to each span."""
    spans = raw["spans"]
    fields = ("jobs", "tasks", "task_cpu_ms", "shuffle_mb", "spill_mb",
              "input_mb", "planning_ms")
    for s in spans:
        s.update({f: 0.0 for f in fields}, kids=[], own_jobs=[])
    order = sorted(spans, key=lambda s: (s["start"], s["id"]))

    def innermost(t):
        best = None
        for s in order:
            if s["start"] > t:
                break
            if t <= s["end"]:
                best = s
        return best

    stages = {s["id"]: s for s in raw["stages"]}
    for j in raw["jobs"]:
        s = innermost(j["start"])
        if s is None:
            continue
        s["jobs"] += 1
        s["own_jobs"].append((j["start"], j.get("end", j["start"])))
        for sid in j["stages"]:
            st = stages.get(sid)
            if st:
                for f in ("tasks", "task_cpu_ms", "shuffle_mb", "spill_mb", "input_mb"):
                    s[f] += st[f]
    for p in raw["planning"]:
        s = innermost(p["start"])
        if s is not None:
            s["planning_ms"] += p["ms"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] >= 0:
            by_id[s["parent"]]["kids"].append(s)
    for s in sorted(spans, key=lambda s: -s["id"]):  # children before parents
        s["ms"] = s["end"] - s["start"]
        s["all_jobs"] = s["own_jobs"] + [iv for k in s["kids"] for iv in k["all_jobs"]]
        for k in s["kids"]:
            for f in fields:
                s[f] += k[f]
        s["self_ms"] = s["ms"] - _union([(k["start"], k["end"]) for k in s["kids"]],
                                        s["start"], s["end"])
        s["driver_gap_ms"] = s["ms"] - _union(s["all_jobs"], s["start"], s["end"])
    keep = ("id", "name", "parent", "op", "start", "end", "ms", "self_ms",
            "gc_ms", "driver_gap_ms") + fields
    return [{k: s[k] for k in keep} for s in spans]


def per_layer(workload, ops, raw, extra, attempted, failed):
    spans = spans_with_counters(raw)
    traced = {o["op"] for o in ops if o["traced"]}
    measured = {o["op"] for o in ops if o["kind"] != "warmup"}

    def pick(pred, only_traced=True, setup=False):
        return [s for s in spans if pred(s["name"]) and (
            (setup and s["op"] < 0) or
            (s["op"] in measured and (s["op"] in traced or not only_traced)))]

    def med(name, field, only_traced=True, setup=False):
        sel = pick(lambda n: n == name or n.startswith(name + "."),
                   only_traced and field != "ms", setup)
        return median([s[field] for s in sel])

    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "pipeline.construct.ms": med("pipeline.construct", "ms"),
        "pipeline.action.planning_ms": med("pipeline.action", "planning_ms"),
        "pipeline.action.jobs": med("pipeline.action", "jobs"),
        "pipeline.action.ms": med("pipeline.action", "ms"),
        "pipeline.action.task_cpu_ms": med("pipeline.action", "task_cpu_ms"),
        "pipeline.action.shuffle_mb": med("pipeline.action", "shuffle_mb"),
        "pipeline.stage.lm_score.ms": med("pipeline.stage.lm_score", "ms"),
        "sink.ivfsq.ms": med("sink.ivfsq", "ms"),
        "sink.ivfsq.jobs": med("sink.ivfsq", "jobs"),
        "index.build.ivf.ms": med("index.build.ivf", "ms", setup=True),
        "index.build.ivfsq.ms": med("index.build.ivfsq", "ms", setup=True),
        "index.build.jobs": sum(s["jobs"] for s in pick(
            lambda n: n.startswith("index.build."), setup=True)),
        "index.load.ms": med("index.load", "ms", setup=True),
        "index.search.ivf.ms": med("index.search.ivf", "ms"),
        "index.search.ivfsq.ms": med("index.search.ivfsq", "ms"),
        "index.search.filtered.ms": med("index.search.filtered", "ms"),
        "index.append.ms": med("index.append", "ms"),
        "streaming.jobs_per_trigger": med("streaming.trigger", "jobs"),
        "streaming.trigger.task_cpu_ms": med("streaming.trigger", "task_cpu_ms"),
        "streaming.trigger.shuffle_mb": med("streaming.trigger", "shuffle_mb"),
        "streaming.compact.ms": med("streaming.compact", "ms", setup=True),
        "streaming.restart.ms": med("streaming.restart", "ms", setup=True),
    })
    for f in ("jobs", "tasks", "planning_ms", "driver_gap_ms", "shuffle_mb"):
        m[f"index.search.{f}"] = med("index.search", f)
    roots = [s for s in spans if s["parent"] < 0 and s["op"] in measured]
    m["sources.input_mb"] = median([s["input_mb"] for s in roots if s["op"] in traced])
    m["core.gc_ms"] = median([s["gc_ms"] for s in roots])
    batches = {o["batch"] for o in ops if o["op"] in measured and "batch_ms" in o}
    progress = [p for p in raw["progress"]
                if p.get("numInputRows", 0) > 0 and p.get("batchId") in batches]
    for name, key in (("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                      ("commit_offsets", "commitOffsets"),
                      ("latest_offset", "latestOffset"), ("planning", "queryPlanning")):
        m[f"streaming.{name}.ms"] = median(
            [p["durationMs"].get(key) for p in progress])
    m.update(extra)
    m["bench.op_fail_ratio"] = failed / attempted if attempted else 0.0
    prim = [o for o in ops if o["kind"] == PRIMARY[workload] and o["ok"]]
    key = "batch_ms" if workload == "stream_dedup" else "ms"
    on = median([o[key] for o in prim if o["traced"]])
    off = median([o[key] for o in prim if not o["traced"]])
    m["trace.overhead_pct"] = (on - off) * 100.0 / off if on and off else 0.0
    return spans, m


def evaluate(workload, truth, out, traced):
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f if l.strip()]
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    bad = {o["op"]: o.get("error", "failed") for o in ops if not o["ok"]}
    failures = []
    extra = CHECKS[workload](truth, ops, summary, bad, failures, out)
    measured = [o for o in ops if o["kind"] != "warmup"]
    for o in ops:
        if o["op"] in bad:
            failures.append(f"op {o['op']} ({o['kind']}): {bad[o['op']]}")
    attempted = len(measured)
    failed = sum(1 for o in measured if o["op"] in bad)
    good = [o for o in measured if o["op"] not in bad]
    res = {"correct": not failures and attempted > 0, "attempted": attempted,
           "failed": failed, "failures": failures,
           "end_to_end": end_to_end(workload, good, summary, truth)}
    if traced:
        with open(os.path.join(out, "trace_raw.json")) as f:
            raw = json.load(f)
        res["spans"], res["layers"] = per_layer(
            workload, ops, raw, extra, attempted, failed)
    return res
