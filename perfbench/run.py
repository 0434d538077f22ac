#!/usr/bin/env python3
"""perfbench: the graft engine's benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        [--seconds 10] [--trace 0|1]

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt; the engine's own build
is used unchanged) and caches the classpath under .bench_build/. Each run
then generates the workload's inputs from the seed (perfbench/gen.py),
runs one JVM on local[N] (N = cores available, heap sized like the tier-1
test command), checks the outputs (perfbench/check.py), prints every
metric with its unit to stderr, and prints one JSON object as the last
line of stdout. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones (see perfbench/README.md).
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["news_elt", "corpus_curation"]
QUERY_SPANS = {"news_elt": "sources.readback", "corpus_curation": "queries."}
LAYERS = ["sources", "streaming", "news", "queries", "plans", "functions",
          "materialize"]
MB = 1024.0 * 1024.0

END_TO_END = {"setup_s": "s", "batch_s": "s", "mem_peak_mb": "MB"}

PER_LAYER = dict(
    [("sources.read_s", "s"), ("sources.write_s", "s"),
     ("sources.bytes_read_mb", "MB"), ("sources.bytes_written_mb", "MB"),
     ("sources.files_written", "count"), ("sources.write_amp", "ratio"),
     ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
     ("streaming.rows_in", "count"), ("streaming.dup_rows_dropped", "count"),
     ("streaming.state_rows_peak", "count"), ("streaming.state_mb_peak", "MB"),
     ("news.transform_s", "s"), ("news.marts_s", "s"), ("news.enrich_s", "s"),
     ("news.rows_in", "count"), ("news.articles_out", "count"),
     ("queries.exec_ms_p50", "ms"), ("queries.jobs_per_query", "count"),
     ("queries.tasks_per_query", "count"),
     ("plans.plan_ms_p50", "ms"), ("plans.plan_ms_p90", "ms"),
     ("functions.exact_dedup_s", "s"), ("functions.minhash_lsh_s", "s"),
     ("functions.cc_s", "s"), ("functions.simhash_s", "s"),
     ("functions.bpe_train_s", "s"), ("functions.bpe_encode_s", "s"),
     ("functions.ann_s", "s"), ("functions.jobs", "count"),
     ("functions.lsh_candidates", "count"), ("functions.lsh_precision", "ratio"),
     ("materialize.checkpoint_blocks_peak", "count"),
     ("materialize.storage_mb_peak", "MB")]
    + [(f"{l}.{m}", u) for l in LAYERS for m, u in
       [("self_s", "s"), ("task_busy_s", "s"), ("gc_s", "s"),
        ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("sched_wait_s", "s")]]
    + [("core_util", "ratio"), ("trace.uncovered_s", "s"),
       ("trace.overhead_batch_s", "s"), ("trace.overhead_query_p50_ms", "ms"),
       ("baseline.local1_batch_s", "s"), ("baseline.local1_slowdown", "ratio")])

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala",
                                           "graft")))


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for d in [os.path.join(ROOT, "project"), os.path.join(HERE, "project")]:
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness if the sources changed; return classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise RuntimeError("sbt not found on PATH")
    log("perfbench: building engine and harness with sbt")
    with open(os.path.join(BUILD, "build.log"), "w") as blog:
        p = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=blog, text=True,
            timeout=840, stdin=subprocess.DEVNULL)
        blog.write(p.stdout)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        raise RuntimeError(f"sbt build failed; see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------- inputs

def inputs(workload, seed):
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "manifest.json")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
        # keep the cache small: the four newest inputs per workload
        base = os.path.dirname(d)
        mine = sorted((e for e in os.listdir(base)
                       if e.startswith(workload + "-")),
                      key=lambda e: os.path.getmtime(os.path.join(base, e)))
        for e in mine[:-4]:
            shutil.rmtree(os.path.join(base, e), ignore_errors=True)
    with open(os.path.join(d, "manifest.json")) as f:
        return d, json.load(f)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """Half the machine's memory in GiB, clamped to 2..8 (the tier-1
    test command's rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


# ---------------------------------------------------------------- run

def run_jvm(cp, workload, data, work, seconds, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "raw.json")
    cmd = [java, *opens, f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graftbench.Main", "--workload", workload,
           "--data", data, "--work", work, "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores()), "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=work, stdout=jlog, stderr=jlog,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("JVM exceeded the run's time limit")
    if p.returncode != 0 or not os.path.exists(out):
        raise RuntimeError(f"JVM exited with {p.returncode}; see "
                           f"{work}/jvm.log")
    with open(out) as f:
        return json.load(f)


def pct(values, q):
    """Linear-interpolated percentile (q in 0..100) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(raw):
    u = raw["untraced"]
    return {
        "setup_s": statistics.median(raw["setup_s"]),
        "batch_s": statistics.median(u["units_s"]),
        "mem_peak_mb": u["heap_peak_mb"],
    }


def query_stats(u):
    """Latency of the timed queries: printed, not bounded (see README)."""
    lat = [ms for _, ms in u["queries"]]
    return [("query_p50_ms", pct(lat, 50), "ms"),
            ("query_p90_ms", pct(lat, 90), "ms"),
            ("queries_per_s", len(lat) / (sum(lat) / 1000.0), "1/s")]


def _tree_bytes(path):
    """Bytes and count of the data files under a table directory tree
    (metadata, checksum and hidden entries excluded)."""
    total, files = 0, 0
    for dp, dns, fs in os.walk(path):
        dns[:] = [d for d in dns if not d.startswith(("_", "."))]
        for f in fs:
            if not f.startswith(("_", ".")) and not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(dp, f))
                files += 1
    return total, files


def per_layer(raw, workload, manifest):
    t = raw["traced"]
    c = t["counters"]
    n_units = max(1, len(t["units_s"]))
    spans = t["spans"]
    by_id = {s["id"]: s for s in spans}
    dur = {s["id"]: s["end_s"] - s["start_s"] for s in spans}
    acc = {int(k): v for k, v in c["spans"].items()}

    # Catalyst phases sit inside whichever span was open when they ran
    plan_in = defaultdict(float)
    plan_ms = []
    for p in c["plans"]:
        ms = sum(p["phases_ms"].values())
        plan_ms.append(ms)
        inner = [s for s in spans
                 if s["start_ms"] <= p["start_ms"] <= s["end_ms"]]
        if inner:
            host = max(inner, key=lambda s: (s["start_ms"], s["id"]))
            plan_in[host["id"]] += ms / 1000.0

    child_s = defaultdict(float)
    for s in spans:
        if s["parent"] >= 0:
            child_s[s["parent"]] += dur[s["id"]]
    m = {k: 0.0 for k in PER_LAYER}
    for s in spans:
        layer = s["name"].split(".")[0]
        own = max(0.0, dur[s["id"]] - child_s[s["id"]] - plan_in[s["id"]])
        m[f"{layer}.self_s"] += own / n_units
    m["plans.self_s"] = sum(plan_in.values()) / n_units
    top = sum(dur[s["id"]] for s in spans if s["parent"] < 0)
    m["trace.uncovered_s"] = max(0.0, t["wall_s"] - top) / n_units

    def total(prefix, key):
        return sum(a[key] for i, a in acc.items()
                   if i >= 0 and by_id[i]["name"].startswith(prefix))

    def span_s(prefix):
        return sum(dur[s["id"]] for s in spans
                   if s["name"].startswith(prefix)) / n_units
    for layer in LAYERS:
        p = layer + "."
        m[f"{layer}.task_busy_s"] = total(p, "busy_ms") / 1000 / n_units
        m[f"{layer}.gc_s"] = total(p, "gc_ms") / 1000 / n_units
        m[f"{layer}.shuffle_mb"] = total(p, "shuffle_bytes") / MB / n_units
        m[f"{layer}.spill_mb"] = total(p, "spill_bytes") / MB / n_units
        m[f"{layer}.sched_wait_s"] = total(p, "sched_wait_ms") / 1000 / n_units
    busy_all = sum(a["busy_ms"] for a in acc.values()) / 1000.0
    m["core_util"] = busy_all / (t["wall_s"] * raw["cores"])

    m["sources.read_s"] = span_s("sources.read")
    m["sources.write_s"] = span_s("sources.write")
    m["sources.bytes_read_mb"] = sum(
        a["read_bytes"] for a in acc.values()) / MB / n_units
    m["sources.bytes_written_mb"] = sum(
        a["write_bytes"] for a in acc.values()) / MB / n_units
    wh = raw["outputs"].get("warehouse")
    if wh and os.path.isdir(wh):
        data_bytes, files = _tree_bytes(wh)
        m["sources.files_written"] = files
        m["sources.write_amp"] = data_bytes / manifest["bytes"]

    prog = c["streaming"]
    if prog:
        m["streaming.batches"] = len(prog) / n_units
        m["streaming.batch_ms_p50"] = statistics.median(
            p["duration_ms"] for p in prog)
        m["streaming.rows_in"] = sum(p["rows_in"] for p in prog) / n_units
        m["streaming.dup_rows_dropped"] = sum(
            p["dup_dropped"] for p in prog) / n_units
        m["streaming.state_rows_peak"] = max(p["state_rows"] for p in prog)
        m["streaming.state_mb_peak"] = max(p["state_bytes"] for p in prog) / MB

    m["news.transform_s"] = span_s("news.transform")
    m["news.marts_s"] = span_s("news.marts")
    m["news.enrich_s"] = span_s("news.enrich")
    m["news.rows_in"] = total("news.transform", "read_records") / n_units
    m["news.articles_out"] = total("sources.write.articles",
                                   "write_records") / n_units

    qprefix = QUERY_SPANS[workload]
    qspans = [s for s in spans if s["name"].startswith(qprefix)]
    if qspans:
        kids = defaultdict(list)
        for s in spans:
            kids[s["parent"]].append(s["id"])

        def subtree(i):
            out = [i]
            for k in kids[i]:
                out += subtree(k)
            return out
        exec_ms, jobs, tasks = [], 0, 0
        for s in qspans:
            ids = subtree(s["id"])
            exec_ms.append(1000 * dur[s["id"]] - 1000 * plan_in[s["id"]])
            jobs += sum(acc[i]["jobs"] for i in ids if i in acc)
            tasks += sum(acc[i]["tasks"] for i in ids if i in acc)
        m["queries.exec_ms_p50"] = statistics.median(exec_ms)
        m["queries.jobs_per_query"] = jobs / len(qspans)
        m["queries.tasks_per_query"] = tasks / len(qspans)
    if plan_ms:
        m["plans.plan_ms_p50"] = pct(plan_ms, 50)
        m["plans.plan_ms_p90"] = pct(plan_ms, 90)

    for step in ["exact_dedup", "minhash_lsh", "cc", "simhash", "bpe_train",
                 "bpe_encode", "ann"]:
        m[f"functions.{step}_s"] = span_s(f"functions.{step}")
    fn_ids = set()
    for s in spans:
        if s["name"].startswith("functions."):
            fn_ids.add(s["id"])
        elif s["parent"] in fn_ids:
            fn_ids.add(s["id"])
    m["functions.jobs"] = sum(acc[i]["jobs"] for i in fn_ids if i in acc) \
        / n_units
    out = raw["outputs"]
    if "lsh_candidates" in out:
        m["functions.lsh_candidates"] = out["lsh_candidates"]
        m["functions.lsh_precision"] = (len(out["verified"])
                                        / max(1, out["lsh_candidates"]))

    m["materialize.checkpoint_blocks_peak"] = c["rdd_blocks_peak"]
    m["materialize.storage_mb_peak"] = c["rdd_bytes_peak"] / MB

    u = raw["untraced_warm"]
    m["trace.overhead_batch_s"] = (statistics.median(t["units_s"])
                                   - statistics.median(u["units_s"]))
    if t["queries"] and u["queries"]:
        m["trace.overhead_query_p50_ms"] = (
            pct([q for _, q in t["queries"]], 50)
            - pct([q for _, q in u["queries"]], 50))
    if "local1" in raw and raw["local1"]["units_s"]:
        one = statistics.median(raw["local1"]["units_s"])
        m["baseline.local1_batch_s"] = one
        m["baseline.local1_slowdown"] = one / statistics.median(u["units_s"])
    return m


def run_one(workload, seed, seconds, trace):
    t_start = time.monotonic()
    cp = build()
    t_built = time.monotonic()
    data, manifest = inputs(workload, seed)
    t_gen = time.monotonic()
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # the run must end within 180 s of its start (the build excepted)
    deadline = time.monotonic() + 160.0
    raw = run_jvm(cp, workload, data, work, seconds, trace, deadline)
    t_jvm = time.monotonic()
    checks = check.run_checks(workload, data, raw["outputs"])
    t_checked = time.monotonic()

    phases = [raw["untraced"]] + (
        [raw["traced"], raw["untraced_warm"]] if trace else [])
    attempted = sum(p["attempted"] for p in phases) + len(checks)
    failed = sum(p["failed"] for p in phases) + sum(
        1 for _, ok, _ in checks if not ok)
    if trace:
        metrics = per_layer(raw, workload, manifest)
        units = PER_LAYER
    else:
        metrics = end_to_end(raw)
        units = END_TO_END

    log(f"perfbench {workload} seed={seed} cores={raw['cores']} "
        f"trace={trace} inputs={manifest['rows']} rows/"
        f"{manifest['bytes'] / MB:.2f} MB")
    u = raw["untraced"]
    notes = {
        "setup_s": "median of %d set-ups: %s" % (
            len(raw["setup_s"]), " ".join(f"{s:.3f}" for s in raw["setup_s"])),
        "batch_s": f"median of {len(u['units_s'])} units",
        "mem_peak_mb": "peak heap after GC; peak RSS %.0f MB" % u["rss_peak_mb"],
    }
    for k, v in metrics.items():
        log(f"  {k:38s} {v:14.4f} {units[k]:6s} {notes.get(k, '')}")
    if u["queries"]:
        for k, v, unit in query_stats(u):
            log(f"  {k:38s} {v:14.4f} {unit:6s} "
                f"{len(u['queries'])} queries; not bounded")
    log(f"  {'error_rate':38s} {failed / attempted:14.4f} {'ratio':6s} "
        f"{failed} failed of {attempted} (operations + checks)")
    for name, ok, detail in checks:
        log(f"  check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    for e in sum((p["errors"] for p in phases), []):
        log(f"  error {e}")
    log(f"  wall {time.monotonic() - t_start:.1f} s: build {t_built - t_start:.1f}"
        f", inputs {t_gen - t_built:.1f}, jvm {t_jvm - t_gen:.1f}, "
        f"checks {t_checked - t_jvm:.1f}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not program_present():
        log("perfbench: no graft engine sources next to perfbench/ "
            "(expected build.sbt and src/main/scala/graft)")
        return 2
    try:
        if a.workload == "all":
            res = {w: run_one(w, a.seed, a.seconds, a.trace)
                   for w in WORKLOADS}
        else:
            res = run_one(a.workload, a.seed, a.seconds, a.trace)
    except Exception as ex:
        log(f"perfbench: {ex}")
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
