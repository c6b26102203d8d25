#!/usr/bin/env python3
"""Export benchmark: one closed-loop client runs full four-module exports
(`Orchestrator.runModule` per module, in reference order) back to back on
one `local[2]` session with `ExportMain`'s other settings, checks every
export's output, and prints the metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload export_fresh --seed 1 --seconds 10 --trace 0

Workloads (inputs generated from --seed by gen.py):

- export_fresh: export a site into an empty directory; a stub fetcher fails
  a seeded 1% of asset URLs on every attempt.
- export_rerun: export the site once (the cold unit), then, per timed unit,
  restore that state and re-export a revision with 5% of posts edited, 1%
  added and every failed URL healed.
- export_jdbc: export through `JdbcCatalog` from embedded Derby tables with
  WordPress's keys, indexes and column order, compared against a parquet
  export of the same data. Not in BENCHMARK.json: the exporter fails it
  (`Pipelines.posts` reads `wp_options` by position, and WordPress's first
  column there is `option_id`).

A run creates the session `SETUP_REPS` times (setup_s is the median), runs
one cold export, then timed exports until --seconds have passed and at
least two have run. End-to-end metrics (--trace 0): setup_s, export_s
(median over the timed exports), out_mb (bytes the export leaves) and
heap_mb (driver heap after full GCs). The cold export's wall time and the
per-module times are printed as diagnostics: on a shared host they spread
too widely from run to run to bound. Exports that throw or fail their
output check are counted in `failed` and excluded from every timing.
--trace 1 runs the same loop, at least three timed exports, with spans
recorded on every other one and prints the per-layer metrics, including
the tracing overhead. `--workload all` runs every workload in turn. The
last line of stdout is one JSON object: correct, attempted, failed,
metrics.

The program is compiled from the checkout's sources on first use (see
build.py); generated inputs, exports and Spark's scratch space live under
the build directory ($CARGO_TARGET_DIR, default .bench_build).
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import metrics as mx  # noqa: E402
from gen import Site  # noqa: E402

# Row counts per workload, at a tenth of a mid-size site. Orchestrator's
# driver-manifest bound (default 10k) is scaled down with them, so the same
# sink branches run: posts and assets of export_fresh/export_rerun exceed it
# and take the sharded path; authors, categories, the dead-letter manifest
# and export_jdbc's assets stay on the single-file path.
MAX_DRIVER_MANIFEST = 1000
SITE = dict(n_posts=3000, n_attach=2500, n_users=400, n_terms=220)
SIZES = {
    "export_fresh": SITE,
    "export_rerun": SITE,
    "export_jdbc": dict(SITE, n_posts=5000, n_attach=800),
}
WORKLOADS = tuple(SIZES)
MODULES = ("assets", "authors", "categories", "posts")
SETUP_REPS = 9
# Two task threads on a 4-vCPU host: with local[*] the task threads compete
# with the driver, the JIT compilers and GC for every core, and warm export
# times drifted by a third within a run. ExportMain itself uses local[*].
SPARK_MASTER = "local[2]"
RUN_LIMIT_S = 170

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm(classpath, work, conf, log, deadline):
    opts = [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby/derby.log"] + opts +
           ["-cp", os.pathsep.join(classpath), "perfbench.Harness"] +
           [f"{k}={v}" for k, v in conf.items()])
    with open(log, "ab") as f:
        try:
            subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                           timeout=max(10.0, deadline - time.time()), check=True)
        except (subprocess.SubprocessError, OSError) as e:
            raise RuntimeError(f"harness {conf.get('mode')} failed ({e}); see {log}")
    with open(conf["result"]) as f:
        res = json.load(f)
    if "fatal" in res:
        raise RuntimeError(f"harness {conf.get('mode')}: {res['fatal']}; see {log}")
    return res


def host_cpu_ticks():
    """The aggregate `cpu` line of /proc/stat (field 8 is steal), or None
    where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def run_workload(build_dir, classpath, workload, seed, seconds, trace):
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    work = os.path.join(build_dir, f"work-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")
    site = Site(seed, **SIZES[workload])
    data = os.path.join(work, "data")
    rows = site.write_parquet(data)
    prior_failing = set(site.failing)
    fail_file = os.path.join(work, "failing.txt")
    with open(fail_file, "w") as f:
        f.write("\n".join(str(a) for a in sorted(site.failing)))
    conf = {"mode": "measure", "master": SPARK_MASTER, "data": data,
            "out": os.path.join(work, "out"), "seconds": seconds, "trace": trace,
            "setup_reps": SETUP_REPS,
            # a traced export is paired with an untraced one on each side
            "min_iters": 3 if trace else 2, "max_iters": 40,
            "result": os.path.join(work, "result.json"), "failing": fail_file,
            "max_manifest": MAX_DRIVER_MANIFEST}
    base = edited = added = None
    first_site = site
    if workload == "export_rerun":
        site = Site(seed, **SIZES[workload])
        edited, added = site.revise()
        rows = site.write_parquet(os.path.join(work, "data2"))
        conf.update(data=os.path.join(work, "data2"), first_data=data,
                    base=os.path.join(work, "base"), first_failing=fail_file, failing="")
    elif workload == "export_jdbc":
        url = f"jdbc:derby:{work}/derby/wp"
        jvm(classpath, work, {"mode": "prepare", "master": SPARK_MASTER, "data": data,
                              "derby_load": url, "result": os.path.join(work, "prepare.json")},
            log, deadline)
        conf.update(jdbc=url, ref_data=data, ref_out=os.path.join(work, "ref"))
    gen_s = time.time() - t_start
    cpu0 = host_cpu_ticks()
    res = jvm(classpath, work, conf, log, deadline)
    cpu1 = host_cpu_ticks()
    if workload == "export_rerun" and not res["iterations"][0]["error"]:
        base = checks.State(conf["base"])

    ref = checks.State(conf["ref_out"]) if workload == "export_jdbc" else None
    units = []
    for it in res["iterations"]:
        problems = [it["error"]] if it["error"] else []
        state = None
        if not problems:
            state = checks.State(it["out"], since=it["start"])
            if workload == "export_fresh" or (workload == "export_rerun" and it["cold"]):
                problems = checks.check_fresh(first_site, state, it["fetch_ids"])
            elif workload == "export_rerun" and base is None:
                problems = ["the first export failed; nothing to re-run over"]
            elif workload == "export_rerun":
                problems = checks.check_rerun(site, base, state, it["fetch_ids"],
                                              edited, added, prior_failing)
            else:
                problems = checks.check_same(state, ref)
        it["problems"] = problems
        it["ok"] = not problems
        if it["ok"]:
            it["out_bytes"] = checks.out_bytes(it["out"])
            prior = base.entries_flat() if base and not it["cold"] else {}
            it["rewrite_ratio"] = mx.rewrite_ratio(state.written, prior,
                                                   state.entries_flat())
        units.append(it)
    report = {"workload": workload, "seed": seed, "gen_s": gen_s, "rows": rows,
              "wall_s": time.time() - t_start}
    if trace:
        report["metrics"] = layer_metrics(res, units, rows)
    else:
        report["metrics"] = end_to_end(res, units)
    report["diag"] = diagnostics(res, units)
    if cpu0 and cpu1:
        # share of the VM's CPU time the hypervisor gave to other guests
        total = sum(cpu1) - sum(cpu0)
        report["diag"]["host_steal_frac"] = (cpu1[7] - cpu0[7]) / total if total else 0.0
    report["units"], report["failed_units"] = len(units), sum(not u["ok"] for u in units)
    report["problems"] = [f"iter{u['iter']}: {p}" for u in units for p in u["problems"][:3]]
    with open(os.path.join(build_dir, f"last-{workload}-trace{trace}.json"), "w") as f:
        json.dump(dict(res, report=report), f)
    shutil.rmtree(work, ignore_errors=True)
    return report


def _timed(units, traced=False):
    return [u for u in units if u["ok"] and not u["cold"] and u["traced"] == traced]


def end_to_end(res, units):
    timed = _timed(units)
    ok = [u for u in units if u["ok"]]
    m = {"setup_s": (mx.median(res["setup_s"]), "s"),
         "export_s": (mx.median([u["wall_s"] for u in timed]), "s")}
    m["out_mb"] = (mx.median([u["out_bytes"] / 1048576.0 for u in ok]) if ok else None, "MB")
    m["heap_mb"] = (res["heap_mb"], "MB")
    return m


def layer_metrics(res, units, rows):
    """Per-layer metrics from the traced iterations (medians over the warm
    traced ones; codegen from the cold one), plus the tracing overhead."""
    spans = mx.link_spans(res["spans"])
    traced = _timed(units, traced=True)
    cold = [u for u in units if u["cold"] and u["ok"]]
    per_iter = [iteration_layers(spans, u, rows) for u in traced]

    def med(key):
        return mx.median([p[key] for p in per_iter]) if per_iter else None

    m = {k: (med(k), unit) for k, unit in LAYER_UNITS.items()}
    m["trace.overhead_s"] = (mx.tracing_overhead(
        [(u["wall_s"], u["traced"]) for u in units if u["ok"] and not u["cold"]]), "s")
    c = cold[0] if cold else None
    m["codegen.cold_compiles"] = (c and c["codegen_compiles"], "count")
    m["codegen.cold_compile_s"] = (c and c["codegen_compiles"] * c["codegen_mean_ms"] / 1e3,
                                   "s_sampled")
    m["exec.cache_resident_mb"] = (res["cache_resident_mb"], "MB")
    return m


LAYER_UNITS = {
    "sources.table_calls": "count", "sources.table_s": "s", "sources.read_ratio": "ratio",
    "pipelines.build_s": "s", "pipelines.driver_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "codegen.compiles": "count", "codegen.compile_s": "s_sampled",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_failures": "count", "exec.task_s": "s", "exec.cpu_s": "s",
    "exec.task_wait_s": "s", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.input_mb": "MB", "exec.spill_mb": "MB",
    "sinks.keyedjson.jobs": "count", "sinks.keyedjson.job_s": "s",
    "sinks.keyedjson.rewrite_ratio": "ratio",
    "sinks.fetch.calls": "count", "sinks.fetch.failed": "count",
    "sinks.fetch.retries": "count", "sinks.fetch.busy_s": "s", "sinks.fetch.ok_ratio": "ratio",
    "jvm.gc_s": "s", "trace.split_gap": "ratio",
}
LAYER_UNITS.update({f"split.{l}_s": "s" for l in mx.LAYERS})
LAYER_UNITS.update({f"{mod}.{l}_s": "s" for mod in MODULES for l in mx.LAYERS})


def iteration_layers(spans, unit, rows):
    """Layer figures of one traced iteration (seconds unless counted)."""
    lo, hi = unit["start"], unit["end"]
    mine = [s for s in spans if s["kind"] != "iteration" and s["start"] >= lo - 1
            and s["start"] <= hi]
    modules = [s for s in mine if s["kind"] == "module"]
    inner = [s for s in mine if s["kind"] != "module"]
    jobs = [s for s in inner if s["kind"] == "job"]
    tables = [s for s in inner if s["kind"] == "table"]
    out = {k: 0.0 for k in LAYER_UNITS}
    gap = 0.0
    for mod in modules:
        kids = [s for s in inner if s["start"] < mod["end"] and s["end"] > mod["start"]]
        split = mx.split_wall(mod["start"], mod["end"], kids)
        wall = mod["end"] - mod["start"]
        gap = max(gap, abs(sum(split.values()) - wall) / wall if wall else 0.0)
        for layer, ms in split.items():
            out[f"split.{layer}_s"] += ms / 1e3
            out[f"{mod['name']}.{layer}_s"] += ms / 1e3
        job_iv = [(j["start"], j["end"]) for j in kids if j["kind"] == "job"]
        out["pipelines.driver_s"] += mx.self_time((mod["start"], mod["end"]), job_iv) / 1e3
        first = min((s["start"] for s in kids if s["kind"] in ("job", "exec")),
                    default=mod["end"])
        out["pipelines.build_s"] += (first - mod["start"]) / 1e3
    out["trace.split_gap"] = gap
    out["sources.table_calls"] = len(tables)
    out["sources.table_s"] = sum(s["end"] - s["start"] for s in tables) / 1e3
    read_rows = sum(rows.get(n, 0) for n in {s["name"] for s in tables})
    records = sum(j["input_records"] for j in jobs)
    out["sources.read_ratio"] = records / read_rows if read_rows else 0.0
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = sum(s["end"] - s["start"] for s in inner
                                         if s["kind"] == "catalyst" and s["name"] == phase) / 1e3
    out["codegen.compiles"] = unit["codegen_compiles"]
    out["codegen.compile_s"] = unit["codegen_compiles"] * unit["codegen_mean_ms"] / 1e3
    out["exec.jobs"] = len(jobs)
    for key, field, scale in (("exec.stages", "stages", 1), ("exec.tasks", "tasks", 1),
                              ("exec.task_failures", "task_failures", 1),
                              ("exec.task_s", "task_ms", 1e3), ("exec.cpu_s", "cpu_ns", 1e9),
                              ("exec.task_wait_s", "wait_ms", 1e3),
                              ("exec.shuffle_write_mb", "shuffle_write", 1048576.0),
                              ("exec.shuffle_read_mb", "shuffle_read", 1048576.0),
                              ("exec.input_mb", "input_bytes", 1048576.0),
                              ("exec.spill_mb", "spill", 1048576.0)):
        out[key] = sum(j[field] for j in jobs) / scale
    kj = [j for j in jobs if j["layer"] == "sinks.keyedjson"]
    out["sinks.keyedjson.jobs"] = len(kj)
    out["sinks.keyedjson.job_s"] = sum(j["end"] - j["start"] for j in kj) / 1e3
    out["sinks.keyedjson.rewrite_ratio"] = unit["rewrite_ratio"]
    calls, failed = unit["fetch_calls"], unit["fetch_failed"]
    out["sinks.fetch.calls"] = calls
    out["sinks.fetch.failed"] = failed
    out["sinks.fetch.retries"] = calls - len(unit["fetch_ids"])
    out["sinks.fetch.busy_s"] = unit["fetch_busy_s"]
    out["sinks.fetch.ok_ratio"] = (calls - failed) / calls if calls else 1.0
    out["jvm.gc_s"] = unit["gc_s"]
    return out


def diagnostics(res, units):
    timed = _timed(units)
    modules = {f"module_s.{mod}": mx.median([u["modules"][mod]["s"] for u in timed])
               for mod in MODULES}
    cold = [u["wall_s"] for u in units if u["cold"] and u["ok"]]
    return {**modules, "cold_s": cold[0] if cold else None,
            "probe_before_ms": res["probe_before_ms"],
            "probe_after_ms": res["probe_after_ms"],
            "cache_resident_mb": res["cache_resident_mb"],
            "setup_samples": len(res["setup_s"]),
            "export_samples": len(timed),
            "export_p90_s": mx.tail_percentile([u["wall_s"] for u in timed]),
            "failed_frac": sum(not u["ok"] for u in units) / len(units) if units else 1.0}


def print_report(rep):
    print(f"== {rep['workload']} seed={rep['seed']} units={rep['units']} "
          f"failed={rep['failed_units']} gen={rep['gen_s']:.1f}s wall={rep['wall_s']:.1f}s")
    for name, (value, unit) in rep["metrics"].items():
        shown = "n/a" if value is None else f"{value:.4f}"
        print(f"  {name:36s} {shown:>14s} {unit}")
    for k, v in rep["diag"].items():
        print(f"  [diag] {k} = {v}")
    for p in rep["problems"][:10]:
        print(f"  [check] {p}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "src/main/scala")) and
            os.path.exists(os.path.join(root, "build.sbt"))):
        print("perfbench: run from the root of a checkout of the exporter "
              "(src/main/scala and build.sbt not found)", file=sys.stderr)
        return 2
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classpath = build.build(root, build_dir)

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    reports = []
    for name in names:
        rep = run_workload(build_dir, classpath, name, args.seed,
                           args.seconds, args.trace)
        print_report(rep)
        reports.append(rep)
    attempted = sum(r["units"] for r in reports)
    failed = sum(r["failed_units"] for r in reports)
    correct = failed == 0 and all(v is not None for r in reports
                                  for v, _ in r["metrics"].values())
    if len(reports) == 1:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in reports[0]["metrics"].items()}
    else:
        metrics = {f"{r['workload']}.{k}": {"value": v, "unit": u}
                   for r in reports for k, (v, u) in r["metrics"].items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
