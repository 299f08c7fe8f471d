#!/usr/bin/env python3
"""perfbench: the repository's benchmark over the CSVW -> triples -> link ->
CC -> materialize pipeline.

    python3 perfbench/run.py --workload kg_full --seed 1 --seconds 15 --trace 0

Builds the library and the benchmark program from source (cached under
$CARGO_TARGET_DIR, default .bench_build), generates the workload's inputs
from the seed (cached by workload, seed, size and generator source, outside
the timing), runs one fresh JVM on local[nproc] that sets up (cold) and
measures for --seconds, checks every measured iteration's committed output
against the generator's ground truth with DuckDB, and prints as its last
stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
A throw, a wrong or missing output, a wrong validation count, a copy of
library bindings that no longer matches the library (kg_full) and an
uncommitted stream file each count as a failed operation.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("kg_full", "csvw_wide", "stream_ingest")

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("triples_per_s", "1/s"),
    ("stream_lag_p50_s", "s"), ("peak_mem_mb", "MB"), ("out_bytes_per_triple", "B"),
]

LAYERS = ["sources", "model", "mapper", "validate", "link.mentions", "link.star_edges",
          "link.cc", "link.canonicalize", "materialize", "streaming"]
LAYER_METRICS = [
    ("wall_s", "s"), ("self_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("wait_s", "s"),
    ("rows_in", "count"), ("rows_out", "count"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("tasks", "count"), ("failed_tasks", "count"),
]
EXTRA_LAYER = [
    ("mapper.triples_per_row", "ratio"), ("materialize.dedup_ratio", "ratio"),
    ("link.star_edges.edges_per_mention", "ratio"), ("link.cc.jobs", "count"),
    ("link.cc.task_skew", "ratio"), ("link.canonicalize.rewritten_share", "ratio"),
    ("validate.cell_errors", "count"), ("validate.pk_violations", "count"),
    ("validate.fk_violations", "count"),
    ("streaming.lag_p90_s", "s"), ("streaming.batch_s", "s"), ("streaming.state_rows", "count"),
    ("streaming.state_mb", "MB"), ("streaming.dropper_late_s", "s"),
    ("model.resolve_s", "s"),
    ("trace.wall_s", "s"), ("trace.glue_s", "s"), ("trace.overhead_s", "s"),
]
PER_LAYER = [(f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS] + EXTRA_LAYER

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

HEAP = "2g"
RUN_LIMIT_S = 170      # one run, once built
FIRST_RUN_LIMIT_S = 880  # a run that also compiled


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def log(msg):
    sys.stderr.write(f"[perfbench] {msg}\n")
    sys.stderr.flush()


# --------------------------------------------------------------- checks

def check_batch(con, it, truth):
    """Problems with one batch iteration's committed graph (empty = ok)."""
    if not it["ok"]:
        return [f"threw: {it['error']}"]
    out = it["out"]
    probs = []
    data = os.path.join(out, "triples")
    if not glob.glob(os.path.join(data, "*.parquet")):
        return ["no committed triples"]
    got = gen.digest(con, f"SELECT * FROM read_parquet('{data}/*.parquet')")
    if got != (truth["rows"], truth["digest"]):
        probs.append(f"triples {got} != expected {(truth['rows'], truth['digest'])}")
    man_path = os.path.join(out, "_MANIFEST_triples.json")
    if not os.path.exists(man_path):
        return probs + ["no manifest"]
    man = json.load(open(man_path))
    if man.get("rows") != truth["rows"] or not man.get("stage_complete"):
        probs.append(f"manifest rows {man.get('rows')} != {truth['rows']}")
    lineage = con.execute(
        f"SELECT sum(rows) FROM read_parquet('{data}.lineage/*.parquet')").fetchone()[0]
    if lineage != truth["rows"]:
        probs.append(f"lineage rows {lineage} != {truth['rows']}")
    c = it["counts"]
    for k in ("cell_errors", "pk_violations", "fk_violations"):
        if c.get(k) != truth[k]:
            probs.append(f"{k} {c.get(k)} != planted {truth[k]}")
        if man.get("metrics", {}).get(k if k != "cell_errors" else "errors", truth[k]) != truth[k]:
            probs.append(f"manifest {k} differs from planted {truth[k]}")
    if c.get("metadata_errors", 0) != 0:
        probs.append(f"metadata errors {c.get('metadata_errors')}")
    if c.get("gate_raised") != (truth["cell_errors"] > 0):
        probs.append(f"validate gate raised={c.get('gate_raised')} with {truth['cell_errors']} planted errors")
    return probs


def committed_stream_files(out):
    """Data files the file sink committed, from its `_spark_metadata` log."""
    files = set()
    for p in glob.glob(os.path.join(out, "triples", "_spark_metadata", "*")):
        if os.path.basename(p).startswith("."):
            continue
        for line in open(p):
            if line.startswith("{"):
                e = json.loads(line)
                if e.get("action", "add") == "add":
                    files.add(urllib.parse.unquote(urllib.parse.urlparse(e["path"]).path))
    return sorted(files)


def check_stream(con, it, truth):
    if not it["ok"]:
        return [f"threw: {it['error']}"], truth["files"]
    lags = it["counts"].get("lags_s", [None] * truth["files"])
    missing = sum(1 for x in lags if x is None)
    probs = [f"{missing} files never committed"] if missing else []
    files = committed_stream_files(it["out"])
    got = gen.digest3(con, f"SELECT subj, pred, obj FROM read_parquet({files!r})") if files else (0, "0")
    if got != (truth["rows"], truth["digest"]):
        probs.append(f"triples {got} != expected {(truth['rows'], truth['digest'])}")
        missing = truth["files"]
    return probs, missing


# -------------------------------------------------------------- metrics

def end_to_end(raw, its, truth, stream):
    untraced = [it for it in its if not it.get("trace")]
    m = {"setup_s": raw["setup_s"],
         "peak_mem_mb": median([max(it["mem_mb"], default=0.0) for it in untraced])}
    if stream:
        it = untraced[0]
        c = it["counts"]
        lags = [x for x in c.get("lags_s", []) if x is not None]
        busy = c.get("busy_s", 0.0)
        m.update(wall_s=c.get("wall_s", it["wall_s"]), triples_per_s=truth["rows"] / busy if busy else 0.0,
                 stream_lag_p50_s=median(lags))
    else:
        # a batch run's input is all there at its start: its lag is its wall
        walls = [it["wall_s"] for it in untraced]
        m.update(wall_s=median(walls), triples_per_s=median([truth["rows"] / w for w in walls]),
                 stream_lag_p50_s=median(walls))
    m["out_bytes_per_triple"] = median([it["out_bytes"] / truth["rows"] for it in untraced])
    return m


def per_layer(raw, its):
    traced = [it for it in its if it.get("trace")]
    untraced = [it for it in its if not it.get("trace")]

    def lay(layer, metric):
        return median([it["trace"]["layers"].get(layer, {}).get(metric, 0.0) for it in traced])

    def ratio(a, b):
        return a / b if b else 0.0

    def cnt(key):
        return median([float(it["counts"].get(key, 0) or 0) for it in traced])

    m = {f"{l}.{k}": lay(l, k) for l in LAYERS for k, _ in LAYER_METRICS}
    rewritten = [it["counts"].get("rewritten_triples", 0) for it in traced]
    m.update({
        "mapper.triples_per_row": ratio(m["mapper.rows_out"], m["mapper.rows_in"]),
        "materialize.dedup_ratio": ratio(m["materialize.rows_out"], m["materialize.rows_in"]),
        "link.star_edges.edges_per_mention":
            ratio(m["link.star_edges.rows_out"], m["link.star_edges.rows_in"]),
        "link.cc.jobs": lay("link.cc", "jobs"),
        "link.cc.task_skew": lay("link.cc", "task_skew") if m["link.cc.tasks"] else 0.0,
        "link.canonicalize.rewritten_share":
            ratio(median(rewritten), m["link.canonicalize.rows_in"]),
        "validate.cell_errors": cnt("cell_errors"),
        "validate.pk_violations": cnt("pk_violations"),
        "validate.fk_violations": cnt("fk_violations"),
        "streaming.lag_p90_s": median([p90([x for x in it["counts"].get("lags_s", []) if x is not None])
                                       for it in traced]),
        "streaming.batch_s": median([median(it["counts"].get("batch_s", [])) for it in traced]),
        "streaming.state_rows": cnt("state_rows"),
        "streaming.state_mb": cnt("state_mb"),
        "streaming.dropper_late_s": cnt("late_s"),
        "model.resolve_s": raw["resolve_s"],
        "trace.wall_s": median([it["trace"]["wall_s"] for it in traced]),
        "trace.glue_s": median([it["trace"]["glue_s"] for it in traced]),
        "trace.overhead_s": median([it["wall_s"] for it in traced]) -
            median([it["wall_s"] for it in untraced]),
    })
    return m


# ----------------------------------------------------------------- main

def stamp(args, raw, digest, truth):
    mem = next((l.split()[1] for l in open("/proc/meminfo") if l.startswith("MemTotal:")), None)
    try:
        # only this checkout's own repository, never an enclosing one
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(os.getcwd()))
        sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                             timeout=10, env=env).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "size": truth["size"], "nproc": raw["nproc"],
            "mem_total_kb": int(mem) if mem else None, "java": raw["java_version"],
            "spark": raw["spark_version"], "git_sha": sha, "source_sha256": digest,
            "scaling": "not measurable here: one host, local[nproc]"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()

    pdir = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")), "perfbench")
    os.makedirs(pdir, exist_ok=True)
    had_classes = bool(glob.glob(os.path.join(pdir, "classes-*[0-9a-f]")))
    _, cp, digest = build.build(pdir)
    limit = RUN_LIMIT_S if had_classes else FIRST_RUN_LIMIT_S

    # keyed by the generator's source as well, so a changed generator regenerates
    with open(gen.__file__, "rb") as f:
        cache = os.path.join(pdir, "data-" + hashlib.sha256(f.read()).hexdigest()[:12])
    data = gen.ensure(cache, args.workload, args.seed, gen.SIZES[args.workload])
    warm = gen.ensure(cache, args.workload, 0, gen.WARM[args.workload])
    truth = json.load(open(os.path.join(data, "truth.json")))
    log(f"inputs ready in {time.time() - t0:.1f}s: {data}")

    work = os.path.join(pdir, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    # a fixed heap and the throughput collector without adaptive sizing keep
    # timings steady; memory is reported as what the program keeps
    # (Memory.scala), not as RSS, which a fixed heap pins near its ceiling
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:-UseAdaptiveSizePolicy",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main", args.workload, data, warm, work,
              str(args.seconds), str(args.trace), result])
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, timeout=max(30, limit - 15 - (time.time() - t0)))
        if proc.returncode != 0 or not os.path.exists(result):
            raise SystemExit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
        raw = json.load(open(result))
        its = raw["iterations"]
        stream = args.workload == "stream_ingest"

        con = gen.connect(os.path.join(work, "tmp"))
        attempted = failed = 0
        for it in its:
            if stream:
                probs, bad = check_stream(con, it, truth)
                attempted += truth["files"]
                failed += bad
                it["out_bytes"] = dir_bytes(os.path.join(it["out"], "triples"))
            else:
                probs = check_batch(con, it, truth)
                if not raw["bindings_match"]:
                    probs.append("the benchmark's transcript bindings no longer give "
                                 "TranscriptStream.triples' output")
                attempted += 1
                failed += 1 if probs else 0
                it["out_bytes"] = dir_bytes(it["out"])
            for p in probs:
                log(f"CHECK FAILED ({os.path.basename(it['out'])}): {p}")
        con.close()

        metrics = per_layer(raw, its) if args.trace else end_to_end(raw, its, truth, stream)
        units = dict(PER_LAYER if args.trace else END_TO_END)
        st = stamp(args, raw, digest, truth)
        st["iterations"] = [{"wall_s": it["wall_s"], "traced": bool(it.get("trace")),
                             "gcs": len(it["mem_mb"]), "mem_peak_mb": max(it["mem_mb"], default=0.0)}
                            for it in its]
        print(json.dumps({"stamp": st}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
