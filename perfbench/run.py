#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload registry_sf0.01 --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (offline) and caches the classpath
under ``perfbench/.build``; later runs reuse it while the sources are
unchanged. Each run starts one JVM (``perfbench.Main``) with graft's
session settings at ``local[nproc]``, checks every output it produced,
writes a detailed record to ``perfbench/.work/<workload>/result.json`` and
prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
ones with ``--trace 1``). See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
HEAP = "4g"
RUN_LIMIT_S = 170  # a run ends within this, build time excluded

# the timed registry queries: spread over the registry's cost range
# (seed-commit times 0.3-3 s) and its five modules, with q213 and q135
# (two queries whose work `count()` used to prune) among them
REGISTRY_TIMED = [
    "q213_dedup_thresholds", "q135_link_rank", "q229_jpeg_progressive", "q264_pdf_ccitt",
    "q65_repetition_signals", "q132_corpus_shuffle", "q76_funnel_latency",
    "q214_rate_spikes", "q17_range_join", "q246_gopher_rules", "q234_pack_greedy",
    "q01_pricing_summary",
]
# one query per versioned store (postings append and compact, ANN delete,
# export append)
LIFECYCLE = [
    "q148_postings_append", "q158_postings_compact", "q173_ann_delete", "q222_export_append",
]

WORKLOADS = {
    # timed: REGISTRY_TIMED; then a seed-chosen draw of one query from each
    # group of `stratum` of the rest of the registry (similar seed-commit
    # time), output-checked but untimed
    "registry_sf0.01": {"tables": "data/sf0.01", "queries": REGISTRY_TIMED,
                        "warmup": ["q11_set_ops"], "stratum": 63},
    "index_lifecycle_sf0.01": {"tables": "data/sf0.01", "queries": LIFECYCLE,
                               "warmup": ["q11_set_ops"]},
    # implemented, not registered in BENCHMARK.json: see README.md
    "changeset_ingest": {"rows": 40000, "cycles": 7},
}
GOLDENS = os.path.join(HERE, "goldens", "sf0.01.json")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB",
}
MODULES = ["Analytics", "TextAnalytics", "CorpusOps", "MediaStream", "Curation"]
PER_LAYER = {
    "query.build_s": "s", "query.materialize_s": "s", "query.release_s": "s",
    "planning.analysis_ms": "ms", "planning.optimization_ms": "ms", "planning.physical_ms": "ms",
    "engine.jobs": "count", "engine.stages": "count", "engine.driver_gap_s": "s",
    "engine.task_busy_frac": "frac", "engine.executor_cpu_s": "s", "engine.gc_s": "s",
    "engine.scan_bytes": "B", "engine.shuffle_read_bytes": "B", "engine.shuffle_write_bytes": "B",
    "engine.spill_bytes": "B", "engine.failed_tasks": "count",
    "op.scan_ms": "ms", "op.agg_ms": "ms", "op.broadcast_ms": "ms", "op.shuffle_write_ms": "ms",
    "lifecycle.write_cmds": "count", "lifecycle.files_written": "count",
    "lifecycle.bytes_written": "B", "fs.bytes_read": "B", "fs.bytes_written": "B",
    "storage.residual_mb": "MB", "registry.n": "count", "registry.n_run": "count",
    "trace.overhead_frac": "frac", "trace.spans": "count",
}
# operator times that are 0 on some workload, and per-module sums, go to
# result.json only: a per-layer time that always reads 0 carries no signal
DETAIL_OPS = ["op.sort_ms", "op.hash_build_ms", "op.fetch_wait_ms"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every input of the build: graft's and the benchmark's sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark's JVM side; return the runtime classpath."""
    stamp = source_stamp()
    cache = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cache):
        with open(cache) as f:
            cached_stamp, cp = f.read().split("\n", 1)
        if cached_stamp == stamp and all(os.path.exists(p) for p in cp.strip().split(":")):
            return cp.strip(), stamp
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building graft and perfbench with sbt")
    t0 = time.monotonic()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    if ".jar" not in cp:
        raise SystemExit("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cache, "w") as f:
        f.write(stamp + "\n" + cp)
    log(f"built in {time.monotonic() - t0:.1f} s")
    return cp, stamp


# ---------------------------------------------------------------- checks

def float_close(a, b, abs_sum, rel=1e-6):
    """Float column sums agree within `rel` of the column's absolute sum."""
    if a == b or (a != a and b != b):  # equal, or both NaN
        return True
    return abs(a - b) <= rel * abs_sum + 1e-9


def check_digest(golden, item, rows_only):
    """None when the item's output matches its golden, else the reason."""
    if item.get("rows") != golden["rows"]:
        return f"rows {item.get('rows')} != golden {golden['rows']}"
    if rows_only:
        return None
    if item["hash"] != golden["hash"]:
        return f"checksum {item['hash']} != golden {golden['hash']}"
    if len(item["fsum"]) != len(golden["fsum"]):
        return "float columns differ from golden"
    for a, b, s in zip(item["fsum"], golden["fsum"], golden["fabs"]):
        if not float_close(float(a), float(b), float(s)):
            return f"float sum {a} != golden {b}"
    return None


def check_items(items, goldens):
    """Mark each query item ok/failed against the goldens; return unchecked names."""
    unchecked = []
    rows_only = set(goldens.get("rows_only", []))
    for it in items:
        if not it["ok"]:
            continue
        g = goldens["queries"].get(it["name"])
        if g is None:
            unchecked.append(it["name"])
            continue
        reason = check_digest(g, it, it["name"] in rows_only)
        if reason:
            it["ok"] = False
            it["error"] = "output mismatch: " + reason
    return unchecked


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else None


def p95_if_supported(xs):
    """The 95th percentile, only when at least 10 samples lie above it."""
    if len(xs) < 2:
        return None
    p95 = statistics.quantiles(xs, n=20)[-1]
    return p95 if sum(x > p95 for x in xs) >= 10 else None


def op_medians(items):
    """Each operation's median time over the passes that ran it.

    An operation is a slot of the pass: the same query every pass, or the
    n-th cycle. One that failed in any pass has no time.
    """
    by_slot = {}
    for it in items:
        by_slot.setdefault(it["slot"], []).append(it)
    return [median([it["wall_s"] for it in its]) for its in by_slot.values()
            if all(it["ok"] for it in its)]


def end_to_end(res, items, setup_prep_s):
    """The end-to-end metrics of an untraced run; None where undefined.

    Set-up is everything before the timed passes: session build, input
    preparation, the median of the repeated warm-ups and the first pass.
    `wall_s` is one pass made of each operation's median time.
    """
    per_op = op_medians(items)
    first = res["first_pass"]["wall_s"] if res.get("first_pass") else 0.0
    return {
        "setup_s": res["session_s"] + median(res["setup_s"]) + first + setup_prep_s,
        "wall_s": sum(per_op) if per_op else None,
        "op_p50_s": median(per_op),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res, traced, overhead, cores):
    """Per-layer metrics of the traced operations: per-operation means unless noted."""
    n = max(len(traced), 1)

    def attr(k):
        return sum(it["attrs"].get(k, 0.0) for it in traced)

    def layer(name):
        return sum(it["layers"].get(name, 0.0) for it in traced)

    wall = sum(it["wall_s"] for it in traced)
    m = {
        "query.build_s": layer("query.build") / n,
        "query.materialize_s": layer("query.materialize") / n,
        "query.release_s": layer("query.release") / n,
        "planning.analysis_ms": (attr("planning.analysis_ms")
                                 + sum(it.get("analysis_ms", 0.0) for it in traced)) / n,
        "planning.optimization_ms": attr("planning.optimization_ms") / n,
        "planning.physical_ms": attr("planning.planning_ms") / n,
        "engine.jobs": attr("engine.jobs") / n,
        "engine.stages": attr("engine.stages") / n,
        "engine.driver_gap_s": attr("engine.driver_gap_s") / n,
        "engine.task_busy_frac": attr("engine.task_ms") / 1e3 / max(wall * cores, 1e-9),
        "engine.executor_cpu_s": attr("engine.executor_cpu_s") / n,
        "engine.gc_s": attr("engine.gc_s") / n,
        "engine.failed_tasks": attr("engine.failed_tasks"),
        "fs.bytes_read": attr("fs.bytesRead") / n,
        "fs.bytes_written": attr("fs.bytesWritten") / n,
        "storage.residual_mb": max((it.get("storage_bytes", 0) for it in traced), default=0) / 1e6,
        "registry.n": res["n_registry"],
        "registry.n_run": len({it["name"] for it in traced}),
        "trace.overhead_frac": overhead,
        "trace.spans": res.get("spans", 0),
    }
    for k in ["engine.scan_bytes", "engine.shuffle_read_bytes", "engine.shuffle_write_bytes",
              "engine.spill_bytes", "op.scan_ms", "op.agg_ms", "op.broadcast_ms",
              "op.shuffle_write_ms", "lifecycle.write_cmds", "lifecycle.files_written",
              "lifecycle.bytes_written"] + DETAIL_OPS:
        m[k] = attr(k) / n
    for mod in MODULES:
        m[f"queries.{mod}_s"] = sum(it["wall_s"] for it in traced if it.get("module") == mod)
    return m


def ingest_layers(traced, cores):
    """The converter's split over traced cycles (seconds are medians)."""
    ok = [it for it in traced if it["ok"]]
    if not ok:
        return {}

    def lay(it, k):
        return it["layers"].get(k, 0.0)

    def la(it, layer, k):
        return it["layer_attrs"].get(layer, {}).get(k, 0.0)

    rp = [lay(it, "changesets.runPointer") for it in ok]
    return {
        "changesets.decompress_s": median([lay(it, "changesets.decompress") for it in ok]),
        "changesets.parse_s": median([lay(it, "changesets.parse") for it in ok]),
        "changesets.encode_write_s": median(
            [lay(it, "changesets.convert") - lay(it, "changesets.parse") for it in ok]),
        "changesets.publish_s": median(
            [lay(it, "changesets.runPointer") - lay(it, "changesets.convert") for it in ok]),
        "changesets.scan_tasks": median([la(it, "changesets.parse", "engine.tasks") for it in ok]),
        "changesets.jobs": median([la(it, "changesets.runPointer", "engine.jobs") for it in ok]),
        "changesets.task_busy_frac": sum(la(it, "changesets.runPointer", "engine.task_ms")
                                         for it in ok) / 1e3 / (sum(rp) * cores),
        "changesets.files_gc": sum(it["files_gc"] for it in ok),
        "changesets.bytes_per_row": median([it["artifact_bytes"] / it["rows"] for it in ok]),
    }


# ---------------------------------------------------------------- run

def environment(seed, stamp):
    commit = None
    try:  # only when the checkout itself is the repository's top level
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10).stdout.split()
        if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
            commit = out[1]
    except OSError:
        pass
    return {
        "commit": commit or "unknown (not a git checkout)",
        "source_stamp": stamp,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "heap": HEAP,
        "seed": seed,
        "loadavg_before": os.getloadavg(),
    }


def is_checkout():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")))


def run_jvm(cp, args, work, cpus, limit_s):
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a fixed, pre-touched heap: peak RSS then reads the same heap on
           # every run plus what the process holds outside it
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            return p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"the benchmark JVM ran past {limit_s:.0f} s and was stopped")
            return None


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload}; known: {', '.join(WORKLOADS)}")
        return 2
    if not is_checkout():
        log(f"{ROOT} is not a graft source checkout (no build.sbt or graft sources)")
        return 2
    w = WORKLOADS[a.workload]
    cp, stamp = build()
    t0 = time.monotonic()
    env = environment(a.seed, stamp)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or env["nproc"])
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "jvm-result.json")
    args = ["--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out]

    prep_s = 0.0
    if "rows" in w:
        sys.path.insert(0, HERE)
        import gen_dump
        dump, truth = os.path.join(work, "changesets.osm.bz2"), os.path.join(work, "truth.json")
        s = time.monotonic()
        gen_dump.write(a.seed, w["rows"], dump, truth)
        prep_s = time.monotonic() - s
        args += ["--dump", dump, "--truth", truth, "--cycles", str(w["cycles"])]
    else:
        args += ["--tables", os.path.join(HERE, w["tables"]), "--queries", ",".join(w["queries"]),
                 "--warmup", ",".join(w["warmup"])]
        if "stratum" in w:
            args += ["--ranking", GOLDENS, "--stratum", str(w["stratum"])]

    rc = run_jvm(cp, args, work, cpus, RUN_LIMIT_S - (time.monotonic() - t0))
    if rc != 0 or not os.path.exists(out):
        log(f"benchmark JVM failed (exit {rc}); see {os.path.join(work, 'jvm.log')}")
        return 1
    with open(out) as f:
        res = json.load(f)

    timed = [it for p in res["passes"] for it in p["items"]]
    first = res["first_pass"]["items"] if res["first_pass"] else []
    for phase, its in (("setup", res["setup_items"]), ("first", first), ("timed", timed),
                       ("coverage", res["coverage_items"])):
        for it in its:
            it["phase"] = phase
    items = res["setup_items"] + first + timed + res["coverage_items"]
    unchecked = []
    if "rows" not in w:
        with open(GOLDENS) as f:
            unchecked = check_items(items, json.load(f))
    failed = [it for it in items if not it["ok"]]
    untraced = [it for it in timed if not it["traced"]]
    if a.trace:
        traced = [it for it in timed if it["traced"]]
        overhead = (sum(it["wall_s"] for it in traced)
                    / max(sum(it["wall_s"] for it in untraced), 1e-9) - 1)
        metrics = per_layer(res, traced, overhead, res["cores"])
        extra_layers = {k: v for k, v in metrics.items() if k not in PER_LAYER}
        extra_layers.update(ingest_layers(traced, res["cores"]) if "rows" in w else {})
        units = PER_LAYER
    else:
        metrics = end_to_end(res, untraced, prep_s)
        units = END_TO_END
        extra_layers = {}
    ok_walls = op_medians(untraced)
    detail = {
        "workload": a.workload, "environment": env, "metrics": metrics,
        "other_layers": extra_layers,
        "attempted": len(items), "failed": len(failed),
        "failed_frac": len(failed) / max(len(items), 1),
        "failures": [{"name": it["name"], "error": it["error"]} for it in failed],
        "unchecked": unchecked,
        "op_p95_s": p95_if_supported(ok_walls), "op_samples": len(ok_walls),
        "n_registry": res["n_registry"],
        "operations": [{k: it.get(k) for k in ("name", "phase", "traced", "ok", "wall_s", "layers")}
                       for it in items],
    }
    if "rows" in w:
        ok = [it for it in untraced if it["ok"]]
        pub = sum(it["layers"].get("changesets.runPointer", 0.0) for it in ok)
        detail["ingest_rows_per_s"] = sum(it["rows"] for it in ok) / pub if pub else None
        detail["ingest_cycle_p50_s"] = median(
            [it["layers"]["changesets.runPointer"] for it in ok])
        detail["ingest_bytes_per_row"] = median([it["artifact_bytes"] / it["rows"] for it in ok])
    env["loadavg_after"] = os.getloadavg()
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(detail, f, indent=1)
    for it in failed:
        log(f"FAILED {it['name']}: {it['error']}")
    log(json.dumps({k: v for k, v in detail.items() if k not in ("failures", "operations")}))

    missing = [k for k in units if metrics.get(k) is None]
    if missing:
        log(f"no value for {missing}: every operation failed")
        return 1
    print(json.dumps({
        "correct": not failed,
        "attempted": len(items),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
