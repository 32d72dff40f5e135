#!/usr/bin/env python3
"""graft benchmark: one closed-loop client per workload, timed from outside.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1> [--keep <dir>]

Run from the repository root. The first run builds the harness package
(perfbench/build.sbt, which compiles the graft sources with it); later runs
reuse the build while no source changed. Each run:

  1. pre-flight: records nproc and the load average, and refuses to time
     while an orphaned graft JVM is running;
  2. generates the workload's inputs from --seed (cached per seed);
  3. starts the harness JVM (local[nproc], shuffle partitions = nproc):
     an untimed check pass, warm-up passes, then timed passes for
     --seconds;
  4. checks the check pass's outputs against the DuckDB oracle;
  5. prints one line per metric, then the result as the last line:
     {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
     metrics are the end-to-end ones, with --trace 1 the per-layer ones.

Everything is written under perfbench/.work (a per-run temporary
directory, deleted at exit, and the input cache). --keep copies the run's
artifacts (result.json, spans.jsonl, the per-layer table) to a directory.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import gen  # noqa: E402  (this directory is sys.path[0])
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
JAR = os.path.join(HERE, "target", "scala-2.13", "graft-perfbench_2.13-0.1.0.jar")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
CDS = os.path.join(HERE, "target", "cds")
SF = 0.01
# A hang guard only: a run takes 45-100 s, so a correct but several times
# slower program is still measured rather than killed.
HARNESS_TIMEOUT_S = 900

# `warmup` is the number of untimed passes after the check pass. Passes
# timed while the JIT is still compiling the hot paths spread from run to
# run with how far it has got, and a busy host slows the compiler threads
# too. In a 60 s run on a 4-vCPU VM the word-list pass was within 10% of
# its plateau from the 3rd pass on (13.3, 7.4, 6.9, 6.8, then 5.8-6.7 s);
# the mix's fell until the 6th (17.4, 8.6, 6.2, 5.6, 5.2, 5.0, then
# 4.5-4.9 s), so its timed passes start at the 5th, past the steep part.
# More warm-up would not fit the time budget of a full comparison.
WORKLOADS = {
    # The paper's own job over a generated word list of the reference
    # corpus's size and shape.
    "wordlist_bigram": dict(kind="wordlist", queries=[], lines=354_984,
                            warmup=1),
    # One query per engine layer the word-list job bypasses: relational
    # scan/shuffle, query-build work (eager checkpoints, guards) with a
    # prefix-filter similarity join, and a micro-batch stream.
    "query_mix": dict(kind="mix", queries=[
        "rel_pricing_summary", "dedup_jaccard_prefix", "ann_ingest_stream"],
        warmup=3),
}

END_TO_END = {"setup_s": "s", "pass_s": "s"}

# Per-layer metrics: (name, unit, how a pass combines its operations).
PER_LAYER = [
    ("sources.read_s", "s", "sum"), ("sources.read_jobs", "count", "sum"),
    ("sources.sink_s", "s", "sum"), ("sources.sink_bytes", "bytes", "sum"),
    ("sources.scans_per_pass", "ratio", "special"),
    ("textpipeline.count_s", "s", "sum"), ("textpipeline.onlyone_s", "s", "sum"),
    ("functions.ngram_rows", "count", "sum"),
    ("operators.build_s", "s", "sum"), ("operators.build_jobs", "count", "sum"),
    ("operators.build_share", "ratio", "special"),
    ("operators.candidates_per_result", "ratio", "special"),
    ("catalyst.plan_s", "s", "sum"),
    ("exec.exec_s", "s", "sum"), ("exec.jobs", "count", "sum"),
    ("exec.stages", "count", "sum"), ("exec.tasks", "count", "sum"),
    ("exec.scan_bytes", "bytes", "sum"),
    ("exec.shuffle_write_bytes", "bytes", "sum"),
    ("exec.shuffle_read_bytes", "bytes", "sum"),
    ("exec.spill_bytes", "bytes", "sum"), ("exec.task_skew", "ratio", "max"),
    ("exec.executor_cpu_s", "s", "sum"), ("exec.gc_s", "s", "sum"),
    ("exec.peak_exec_mem_mb", "MB", "max"), ("exec.driver_gap_s", "s", "sum"),
    ("streaming.batches", "count", "sum"),
    ("streaming.batch_p50_ms", "ms", "special"),
    ("streaming.add_batch_ms", "ms", "sum"),
    ("streaming.query_planning_ms", "ms", "sum"),
    ("streaming.wal_commit_ms", "ms", "sum"),
    ("streaming.commit_offsets_ms", "ms", "sum"),
    ("streaming.trigger_overhead_ms", "ms", "sum"),
    ("streaming.state_rows_peak", "count", "max"),
    ("streaming.state_bytes_peak", "bytes", "max"),
    ("streaming.startup_s", "s", "sum"),
]
# Self time of each span kind of the trace (duration minus the part its
# children cover), summed over a pass, and the tracing overhead.
SPAN_KINDS = ["pass", "op", "read", "build", "plan", "exec", "sink", "job", "stage"]
TRACE_METRICS = [(f"self.{k}_s", "s") for k in SPAN_KINDS] + [
    ("trace.overhead_s", "s")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- pre-flight

def graft_jvms():
    """(pid, ppid, cmdline) of every JVM running graft code, except ours."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if "java" in cmd.split(" ", 1)[0] and (
                "graft" in cmd or "erlangmapreducespark" in cmd):
            found.append((int(pid), ppid, cmd[:160]))
    return found


def preflight():
    env = {"nproc": len(os.sched_getaffinity(0)),
           "load_avg_1m": os.getloadavg()[0]}
    jvms = graft_jvms()
    orphans = [j for j in jvms if j[1] == 1]
    env["sibling_graft_jvms"] = len(jvms) - len(orphans)
    env["orphan_graft_jvms"] = len(orphans)
    for pid, ppid, cmd in jvms:
        log(f"graft JVM running: pid {pid} ppid {ppid}: {cmd}")
    if orphans:
        fail(f"{len(orphans)} orphaned graft JVM(s) running (ppid 1); they "
             "would contaminate the timings. Stop them and rerun.")
    return env


# --------------------------------------------------------------------- build

def source_digest():
    """Digest of everything the build and its class-data archives depend
    on: the sources, the build files and the JVM flags."""
    h = hashlib.sha256(" ".join(JVM_FLAGS).encode())
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (SOURCES, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java"))]
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory, as the root build names it."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("the Spark jar directory named by build.sbt's unmanagedBase "
             "was not found")
    return m.group(1)


def build():
    """Compiles and packages the harness with the graft sources, then
    records one class-data-sharing archive per workload kind (a short
    training run on tiny inputs): with it the JVM maps the classes it
    loaded instead of parsing them from 300 jars, which took 4 s off
    session start and 3-5 s off the cold first pass."""
    if not os.path.isfile(os.path.join(SOURCES, "graft", "SparkEntry.scala")):
        fail(f"graft sources not found under {SOURCES}; run from the root of "
             "a graft checkout")
    spark_jars()
    digest = source_digest()
    if os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return
    log("building the harness and the graft sources (sbt package) ...")
    t0 = time.time()
    proc = subprocess.run(["sbt", "-batch", "package"], cwd=HERE,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=600)
    if proc.returncode != 0 or not os.path.isfile(JAR):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(CDS, ignore_errors=True)
    for kind in sorted({w["kind"] for w in WORKLOADS.values()}):
        train_cds(kind)
    with open(STAMP, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def cds_archive(kind):
    return os.path.join(CDS, f"{kind}.jsa")


def train_cds(kind):
    """Runs one workload of this kind on tiny inputs with the archive
    written at exit. A failed training run leaves no archive and the
    benchmark runs without one."""
    tmp = tempfile.mkdtemp(prefix="cds-", dir=make_dir(WORK))
    try:
        spec = next(w for w in WORKLOADS.values() if w["kind"] == kind)
        if kind == "wordlist":
            data = os.path.join(tmp, "corpus.ngl")
            gen.corpus(data, 0, 20_000)
        else:
            data = make_dir(os.path.join(tmp, "tables"))
            gen.tables(data, 0, SF / 10)
        archive = cds_archive(kind)
        make_dir(CDS)
        cmd = java_cmd(tmp, [f"-XX:ArchiveClassesAtExit={archive}"]) + [
            kind, data, os.path.join(tmp, "out"), "0", "0", "0", "0"] + spec["queries"]
        proc = subprocess.run(cmd, cwd=tmp, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=300)
        if proc.returncode != 0 and os.path.exists(archive):
            os.remove(archive)
        log(f"class-data archive for {kind}: "
            f"{'ok' if os.path.isfile(archive) else 'failed, running without'}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -------------------------------------------------------------------- inputs

def inputs(workload, seed):
    """Generates (or reuses) the workload's inputs for this seed."""
    kind = WORKLOADS[workload]["kind"]
    cache = os.path.join(WORK, "cache", f"{workload}-{seed}")
    meta_path = os.path.join(cache, "meta.json")
    if os.path.isfile(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if all(file_digest(os.path.join(cache, n)) == d
               for n, d in meta["files"].items()):
            return cache, meta
        shutil.rmtree(cache)
    tmp = tempfile.mkdtemp(dir=make_dir(os.path.dirname(cache)))
    meta = {"seed": seed}
    if kind == "wordlist":
        meta["lines"], meta["bytes"] = gen.corpus(
            os.path.join(tmp, "corpus.ngl"), seed, WORKLOADS[workload]["lines"])
    else:
        gen.tables(tmp, seed, SF)
        meta["sf"] = SF
    meta["files"] = {n: file_digest(os.path.join(tmp, n)) for n in sorted(os.listdir(tmp))}
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    os.rename(tmp, cache)
    return cache, meta


def make_dir(p):
    os.makedirs(p, exist_ok=True)
    return p


def file_digest(p):
    h = hashlib.sha256()
    with open(p, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


# ------------------------------------------------------------------- harness

# The JVM flags of the root build's run configuration (build.sbt), heap
# included. No hsperfdata file: it would be written to /tmp, outside the
# checkout.
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Xmx8g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.sql.codegen.cache.maxEntries=5000",
    "-XX:ReservedCodeCacheSize=2g"]


def java_cmd(tmp, extra=()):
    return (["java", "-cp", f"{JAR}:{spark_jars()}/*"] + JVM_FLAGS
            + [f"-Djava.io.tmpdir={make_dir(os.path.join(tmp, 'jvm-tmp'))}"]
            + list(extra) + ["graftbench.Harness"])


def run_harness(args, spec, input_path, tmp):
    out = os.path.join(tmp, "out")
    archive = cds_archive(spec["kind"])
    extra = [f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive) else []
    cmd = java_cmd(tmp, extra) + [spec["kind"], input_path, out, str(args.seed),
                           str(args.seconds), str(args.trace),
                           str(spec["warmup"])] + spec["queries"]
    log_path = os.path.join(tmp, "harness.log")
    spawn = time.time()
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                cwd=tmp, start_new_session=True)
        try:
            code = proc.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("harness timed out" if code is None else f"harness exited {code}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), spawn, out


# ------------------------------------------------------------------- metrics

def tail_percentile(n):
    """Highest of these percentiles with at least 10 samples beyond it;
    the median when there are fewer than 20 samples."""
    for p in (99.9, 99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return 50


def percentile(values, p):
    v = sorted(values)
    k = (len(v) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def pass_layer_metrics(ops, corpus_bytes, result_rows):
    """Per-layer values of one traced pass from its operations' records."""
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    batch_ms = []
    wall = sum(o["wall_s"] for o in ops)
    joins = results = 0.0
    for o in ops:
        om, ph = o["metrics"], o["phases"]
        for name, _, how in PER_LAYER:
            if name in om and how == "sum":
                m[name] += om[name]
            elif name in om and how == "max":
                m[name] = max(m[name], om[name])
        m["sources.read_s"] += ph.get("read", 0.0)
        m["sources.read_jobs"] += om.get("read.jobs", 0.0)
        m["sources.sink_s"] += ph.get("sink", 0.0)
        m["operators.build_s"] += ph.get("build", 0.0)
        m["operators.build_jobs"] += om.get("build.jobs", 0.0)
        m["catalyst.plan_s"] += ph.get("plan", 0.0)
        m["exec.driver_gap_s"] += o["wall_s"] - om.get("exec.exec_s", 0.0)
        if o["op"] in ("count", "bigram_probs"):
            m["textpipeline.count_s"] += o["wall_s"]
        if o["op"] == "onlyone":
            m["textpipeline.onlyone_s"] += o["wall_s"]
        rows = result_rows.get(o["op"], 0)
        if om.get("operators.widest_join_rows", 0) > 0 and rows > 0:
            joins += om["operators.widest_join_rows"]
            results += rows
        batch_ms += o["batch_ms"]
    m["sources.scans_per_pass"] = m["exec.scan_bytes"] / corpus_bytes if corpus_bytes else 0.0
    m["operators.build_share"] = m["operators.build_s"] / wall if wall else 0.0
    m["operators.candidates_per_result"] = joins / results if results else 0.0
    m["streaming.batch_p50_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
    return m


def output_rows(check_dir, names):
    """Row count of each operation's check-pass parquet output."""
    import pyarrow.parquet as pq
    rows = {}
    for n in names:
        d = os.path.join(check_dir, n)
        if os.path.isdir(d):
            rows[n] = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                          for f in os.listdir(d) if f.endswith(".parquet"))
    return rows


# ---------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the run's artifacts to this directory")
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]
    # A SIGTERM unwinds like an error, so the harness JVM is killed and
    # the run's scratch directory removed on that path too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    env = preflight()
    build()
    tmp = tempfile.mkdtemp(prefix="run-", dir=make_dir(WORK))
    try:
        report(args, spec, env, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def report(args, spec, env, tmp):
    t0 = time.time()
    input_dir, meta = inputs(args.workload, args.seed)
    gen_s = time.time() - t0
    input_path = os.path.join(input_dir, "corpus.ngl") if spec["kind"] == "wordlist" else input_dir
    result, spawn, out = run_harness(args, spec, input_path, tmp)
    check_dir = os.path.join(out, "check")

    spill = make_dir(os.path.join(tmp, "duckdb"))
    counts = {}
    if spec["kind"] == "wordlist":
        checks, counts = oracle.check_wordlist(input_path, check_dir, spill)
    else:
        checks = oracle.check_mix(input_dir, check_dir, spec["queries"], spill)
    ops = result["ops"]
    bad_ops = [o for o in ops if o["status"] != "ok"]
    mismatches = [c for c in checks if not c[1]]
    attempted = len(ops) + len(checks)
    failed = len(bad_ops) + len(mismatches)
    for o in bad_ops:
        log(f"{o['status']}: {o['op']} (pass {o['pass']}): {o['error']}")
    for name, ok, detail in checks:
        log(f"oracle {'OK  ' if ok else 'FAIL'} {name}: {detail}")
    if spec["kind"] == "wordlist" and counts.get("kept_lines") != meta["lines"] - 1:
        mismatches.append(("corpus", False, "corpus line count"))
        failed += 1
        log(f"corpus has {counts.get('kept_lines')} readable lines, "
            f"expected {meta['lines'] - 1}")

    timed = [p for p in result["passes"] if p["kind"] == "timed"]
    # pass_s is taken over the clean untraced passes (see Harness: the
    # hypervisor stole little CPU time during them) when there are two or
    # more, else over the two untraced passes it stole least from.
    measured = [p for p in timed if not p["traced"]]
    if sum(p["clean"] for p in measured) >= 2:
        measured = [p for p in measured if p["clean"]]
    else:
        measured = sorted(measured, key=lambda p: p["steal_share"])[:2]
    untraced = [p["wall_s"] for p in measured]
    traced = [p["wall_s"] for p in timed if p["traced"]]
    kept = {p["pass"] for p in measured}
    lat = [o["wall_s"] for o in ops if o["pass"] in kept]
    pass_s = statistics.median(untraced)
    tail_p = tail_percentile(len(lat))
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, **env, "input_gen_s": round(gen_s, 3),
        "timed_passes": len(timed), "measured_passes": len(measured),
        "timed_steal_shares": [round(p["steal_share"], 4) for p in timed],
        "op_samples": len(lat),
        "op_p50_s": statistics.median(lat), "op_tail_percentile": tail_p,
        "op_tail_s": percentile(lat, tail_p),
        "host_steal_share": statistics.median(p["steal_share"] for p in timed),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    check_ops = [o for o in ops if o["kind"] == "check"]
    if spec["kind"] == "wordlist":
        artifact.update(corpus_lines=meta["lines"], corpus_bytes=meta["bytes"],
                        corpus_words_main=counts.get("main_words"),
                        words_per_s=meta["lines"] / pass_s)
    else:
        artifact["queries_per_min"] = len(spec["queries"]) * 60.0 / pass_s
    if any(q.endswith("_stream") for q in spec["queries"]):
        rows = sum(o["metrics"].get("streaming.input_rows", 0) for o in check_ops)
        artifact.update(stream_input_rows_per_pass=rows, events_per_s=rows / pass_s)
    artifact["error_rate"] = failed / attempted

    if args.trace == 0:
        metrics = {
            "setup_s": result["first_timed_ms"] / 1e3 - spawn,
            "pass_s": pass_s,
        }
        units = END_TO_END
    else:
        metrics, units = layer_report(args, spec, result, meta, check_dir, traced,
                                      untraced, out, artifact)
    print("ARTIFACT " + json.dumps(artifact, sort_keys=True))
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    if args.keep:
        keep = make_dir(args.keep)
        for n in ("result.json", "spans.jsonl", "layers.txt"):
            if os.path.isfile(os.path.join(out, n)):
                shutil.copy(os.path.join(out, n), keep)
    print(json.dumps({
        "correct": not mismatches and not bad_ops,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    if mismatches or bad_ops:
        sys.exit(1)


def layer_report(args, spec, result, meta, check_dir, traced, untraced, out, artifact):
    """Per-layer metrics (median over the traced timed passes), the
    per-operation table, and the tracing overhead."""
    ops = [o for o in result["ops"] if o["kind"] == "timed" and o["traced"]]
    names = sorted({o["op"] for o in ops})
    result_rows = output_rows(check_dir, names)
    corpus_bytes = meta.get("bytes", 0)
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o)
    per_pass = [pass_layer_metrics(v, corpus_bytes, result_rows) for v in by_pass.values()]
    metrics = {name: statistics.median(p[name] for p in per_pass) for name, _, _ in PER_LAYER}
    units = {name: unit for name, unit, _ in PER_LAYER}
    self_s = {s["pass"]: s["self"] for s in result["self_s"]}
    for kind in SPAN_KINDS:
        metrics[f"self.{kind}_s"] = statistics.median(
            self_s.get(p, {}).get(kind, 0.0) for p in by_pass)
    metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    units.update(dict(TRACE_METRICS))
    artifact["traced_passes"] = len(traced)
    artifact["untraced_passes"] = len(untraced)

    # per-operation table: median over the traced passes
    cols = ["wall_s", "build", "plan", "exec", "sink", "read", "exec.jobs",
            "build.jobs", "exec.tasks", "exec.scan_bytes",
            "exec.shuffle_write_bytes", "functions.ngram_rows",
            "operators.widest_join_rows", "streaming.batches"]
    lines = [f"# {args.workload} seed {args.seed}: per operation, median of "
             f"{len(by_pass)} traced passes (times in s)",
             "op " + " ".join(cols)]
    for n in names:
        rows = [o for o in ops if o["op"] == n]

        def val(c):
            return statistics.median(
                o["wall_s"] if c == "wall_s" else o["phases"].get(c, o["metrics"].get(c, 0.0))
                for o in rows)
        lines.append(n + " " + " ".join(f"{val(c):.4g}" for c in cols))
    lines.append(f"# tracing overhead: traced pass_s {statistics.median(traced):.4f} "
                 f"- untraced pass_s {statistics.median(untraced):.4f} s")
    table = "\n".join(lines)
    with open(os.path.join(out, "layers.txt"), "w") as f:
        f.write(table + "\n")
    for line in lines:
        print("LAYERS " + line)
    return metrics, units


if __name__ == "__main__":
    main()
