#!/usr/bin/env python3
"""Daily-batch benchmark: Runner.runDate over a backlog of dated drops.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from this checkout's sources together with the benchmark
sources (perfbench/build.sbt), generates the seeded drops (gen.py), runs the
backlog in one JVM (BatchBench.scala), checks every date's output against
the generator's ground truth and the last date once more against DuckDB,
and prints one JSON object as the last line of standard output. Everything
it writes goes under .bench_build/ at the root of the checkout.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
import check  # noqa: E402
import gen  # noqa: E402

# Workload → drop profile (gen.PROFILES) and report mode.
WORKLOADS = {
    "batch_full": dict(profile="small_dims", incremental=False),
    "dim_churn": dict(profile="churn_dims", incremental=True),
}
DEADLINE_S = 170
END_TO_END = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "op_max_s": "s",
              "success_rate": "ratio", "space_amp": "ratio"}
STEPS = ("staging", "scd2", "facts", "report")
STEP_METRICS = {"wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
                "cpu_s": "s", "driver_s": "s", "shuffle_mb": "MB", "rows_in": "rows",
                "rows_out": "rows"}
LAYER = dict(
    [(f"{s}.{m}", u) for s in STEPS for m, u in STEP_METRICS.items()] + [
        ("io.parse_cpu_s", "s"), ("io.xlsx_s", "s"),
        ("catalog.read_jobs", "count"), ("catalog.analyze_jobs", "count"),
        ("catalog.analyze_cpu_s", "s"), ("catalog.commit_s", "s"),
        ("catalog.files_written", "count"), ("catalog.bytes_written_mb", "MB"),
        ("runner.gap_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
        ("spark.tasks", "count"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
        ("spark.core_util", "ratio"), ("scd2.change_ratio", "ratio"),
        ("report.scan_ratio", "ratio"), ("host.ctrl_cpu_s", "s"),
        ("host.ctrl_shuffle_s", "s"), ("trace.overhead", "ratio"), ("peak_rss_mb", "MB")])
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark JVM; returns the runtime classpath."""
    stamp, cp = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = sources_digest()
    if cp.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp.read_text().strip()
    log("building (sbt compile)")
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.log", "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        fail(f"build failed, see {BUILD / 'build.log'}")
    shutil.copyfile(HERE / "target" / "classpath.txt", cp)
    stamp.write_text(digest)
    return cp.read_text().strip()


def run_jvm(classpath, args, work, timeout):
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a deep call-site stack lets the tracer see Runner's frames behind the
    # catalog's own
    cmd = [str(java), "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.callstack.depth=1000", "-Duser.timezone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.BatchBench"] + args
    # Spark would put its scratch space under SPARK_LOCAL_DIRS instead of
    # the session's spark.local.dir, outside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(work / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM timed out, see {BUILD / 'last'}")
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        log("\n".join(tail))
        fail(f"benchmark JVM exited with {rc}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tree_bytes(*dirs):
    return sum(p.stat().st_size for d in dirs if d.exists() for p in d.rglob("*") if p.is_file())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("program sources (src/main/scala) not found next to perfbench/")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME must point at the Spark installation")

    w = WORKLOADS[a.workload]
    classpath = build()
    started = time.monotonic()  # a run's own deadline excludes the build

    work = BUILD / "work" / f"{a.workload}-s{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        gdir = work / "gen"
        truth = gen.generate(w["profile"], a.seed, str(gdir))
        log("drops generated")
        run_jvm(classpath, [
            "--gen", str(gdir), "--work", str(work),
            "--out", str(work / "result.json"),
            "--incremental", str(w["incremental"]).lower(),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(len(os.sched_getaffinity(0)))],
            work, DEADLINE_S - 10 - (time.monotonic() - started))
        raw = json.loads((work / "result.json").read_text(encoding="utf-8"))
        log("JVM done")
        result = summarize(a, w, truth, gdir, raw)
        if a.trace:
            (BUILD / "last").mkdir(exist_ok=True)
            shutil.copyfile(work / "trace.json", BUILD / "last" / f"{a.workload}-trace.json")
    finally:
        last = BUILD / "last"
        last.mkdir(exist_ok=True)
        if (work / "jvm.log").exists():
            shutil.copyfile(work / "jvm.log", last / f"{a.workload}-jvm.log")
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def summarize(a, w, truth, gdir, raw):
    problems = []
    key = "report_incr" if w["incremental"] else "report_full"
    by_tag = {d["tag"]: d for d in truth["dates"]}
    timed = [op for p in raw["passes"] + raw["traced_passes"] for op in p["ops"]]
    attempted = failed = 0
    for op in raw["untimed_ops"] + timed:
        attempted += 1
        why = op["error"] or check.op_mismatch(op["check"], by_tag[op["tag"]], key)
        if why:
            failed += 1
            problems.append(f"{op['tag']}: {why}")

    # once per run: the last date of the last plain pass, recomputed by
    # DuckDB from the raw drops; and the self-test of both comparisons
    tags = [d["tag"] for d in truth["dates"]]
    got = check.read_partition(raw["passes"][-1]["warehouse"], truth["dates"][-1]["date"])
    want = check.duck_report(gdir, tags, len(tags) - 1, w["incremental"])
    if not check.same_rows(got, want):
        problems.append(f"DuckDB recomputation differs on {tags[-1]}: {check.diff(got, want)}")
    problems += check.self_test(got, truth["dates"][-1][key], want)

    plain = raw["passes"]
    walls = [op["wall_s"] for p in plain for op in p["ops"]]
    e2e = {
        "setup_s": raw["setup_s"],
        "run_s": median([p["run_s"] for p in plain]),
        "op_p50_s": median(walls),
        "op_max_s": median([max(op["wall_s"] for op in p["ops"]) for p in plain]),
        "success_rate": 1 - failed / attempted,
        "space_amp": median([p["warehouse_bytes"] for p in plain])
        / tree_bytes(gdir / "drops", gdir / "info"),
    }
    log(f"{a.workload} seed={a.seed}: {len(plain)} pass(es), op_p50_s over "
        f"{len(walls)} timed dates; " + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
    if a.trace:
        layer, trace_problems = layer_metrics(raw, truth, e2e)
        problems += trace_problems
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for p in problems:
        log(f"CHECK FAILED {p}")
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def layer_metrics(raw, truth, e2e):
    """Per-date medians over the traced dates, plus the run-level ratios."""
    problems = []
    dates = raw["trace"]
    for d in dates:
        if d["unattributed_jobs"] or sum(d[f"{s}.jobs"] for s in STEPS) != d["spark.jobs"]:
            problems.append(f"trace {d['tag']}: {d['unattributed_jobs']} of "
                            f"{d['spark.jobs']} jobs not attributed to a step")
    out = {k: median([d[k] for d in dates]) for k in LAYER if k in dates[0]}

    # useful SCD2 work (rows inserted + rows closed, from the ground truth
    # the captured counts were checked against) per open row the scd2
    # step's replaceAtomic jobs actually wrote; a skipped swap writes none
    tags = [t["tag"] for t in truth["dates"]]
    useful = {cur["tag"]: sum(cur["open"][k] - prev["open"][k] + 2 * cur["closed"][k]
                              for k in cur["open"])
              for prev, cur in zip(truth["dates"], truth["dates"][1:])}
    out["scd2.change_ratio"] = median([
        useful[d["tag"]] / d["scd2.open_rows_written"] if d["scd2.open_rows_written"] else 1.0
        for d in dates if d["tag"] != tags[0]])
    txns = {t["tag"]: t["txns"] for t in truth["dates"]}
    out["report.scan_ratio"] = median([d["report.rows_in"] / txns[d["tag"]] for d in dates])
    out["host.ctrl_cpu_s"] = raw["host"]["ctrl_cpu_s"]
    out["host.ctrl_shuffle_s"] = raw["host"]["ctrl_shuffle_s"]
    out["trace.overhead"] = median([p["run_s"] for p in raw["traced_passes"]]) / e2e["run_s"]
    out["peak_rss_mb"] = raw["peak_rss_mb"]
    return out, problems


if __name__ == "__main__":
    main()
