#!/usr/bin/env python3
"""Benchmark of the drug-target pipeline and the operator catalog.

    python3 perfbench/run.py --workload pipeline_ref --seed 1 --seconds 60 --trace 0

Run from the root of a checkout. The first run compiles `src/main/scala`
plus `perfbench/scala` into `.bench_build/classes` with the Scala compiler
that ships with Spark; later runs reuse the classes while the sources are
unchanged. Inputs are generated from the seed into `.bench_build/inputs`.
Every JVM is a fresh process on `local[4]`; one operation is in flight.

Workloads (see perfbench/README.md):
  pipeline_ref     DrugTargetPipeline.run on a GSE46602-shaped matrix (.txt.gz)
  catalog_session  a fixed set of 12 catalog queries in a seeded order,
                   each run cold then warm through the noop sink

`--trace 0` prints the end-to-end metrics; `--trace 1` runs the workload
traced and prints the per-layer metrics (tracing overhead is taken against
the untraced runs of the workload in this checkout, so a traced run needs
one made before it). The last stdout line is one JSON object: correct,
attempted, failed, metrics.
"""

import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
# the catalog_session queries: one from each twelfth of the catalog ordered
# by cold+warm latency in a long session, with a total near 12x the mean
CATALOG_QUERIES = [
    "q9_symbol_filter", "q23_langid", "q53_eigenvector", "q124_basket_lift",
    "q135_datetime_scalars", "q136_spatial_nn", "q163_holt_trend", "q232_nelson_aalen",
    "q310_std_rates", "q346_wilcoxon", "q361_bland_altman", "q419_qini",
]
JVM_HEAP = "4g"
DEADLINE_S = 175          # every run ends before this, build excluded
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = [("setup_s", "s"), ("work_s", "s")]
PIPELINE_HEAVY = ["geo.read", "prep.run", "mapping.collapse", "de.run", "net.build",
                  "graph.betweenness", "report.csv"]
PIPELINE_LIGHT = ["graph.eigenvector", "graph.scores", "enrich.validate",
                  "report.figures", "report.summary"]
ENGINE = [
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.empty_task_frac", "fraction"), ("spark.slot_util", "fraction"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"), ("sql.analysis_ms", "ms"),
    ("sql.optimization_ms", "ms"), ("sql.planning_ms", "ms"),
    ("codegen.compile_ms", "ms"), ("codegen.compiles", "count"), ("driver_s", "s"),
    ("cache.mem_bytes", "bytes"), ("cache.disk_bytes", "bytes"),
]
CATALOG = [
    ("catalog.build_ms", "ms"), ("catalog.execute_ms", "ms"),
    ("catalog.eager_jobs", "count"), ("query.jobs_p50", "count"),
    ("query.tasks_p50", "count"), ("codegen.compiles_warm", "count"),
]
PER_LAYER = (
    [(f"{l}.{m}", u) for l in PIPELINE_HEAVY for m, u in
     (("s", "s"), ("driver_s", "s"), ("tasks", "count"), ("task_cpu_s", "s"),
      ("shuffle_bytes", "bytes"))]
    + [(f"{l}.s", "s") for l in PIPELINE_LIGHT]
    + ENGINE + CATALOG + [("jvm.peak_rss_mb", "MB"), ("trace.overhead_frac", "fraction")])


class BenchError(Exception):
    pass


def read_json(path):
    return json.loads(checks.read_bytes(path))


def read_text(path):
    return checks.read_bytes(path).decode()


def log(msg):
    print(msg, flush=True)


# ---------------------------------------------------------------- build

def _sources():
    srcs = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, fs in os.walk(base):
            srcs += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(srcs)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that the project's build.sbt compiles against. It also holds the Scala
    compiler the build uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  read_text(os.path.join(ROOT, "build.sbt")))
    if m is None:
        raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def runtime_classpath(classes, jars):
    return f"{classes}:{os.path.join(ROOT, 'src', 'main', 'resources')}:{jars}/*"


def build():
    """Compiles the program and the benchmark's JVM side unless the classes
    already match the sources; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise BenchError("no program sources: src/main/scala is missing")
    jars = spark_jars()
    srcs = _sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode() + b"\0" + checks.read_bytes(s))
    stamp = os.path.join(BUILD, "classes.stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and read_text(stamp) == h.hexdigest():
        return runtime_classpath(classes, jars)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log(f"compiling {len(srcs)} sources ...")
    t0 = time.perf_counter()
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-d", tmp, "-classpath", f"{jars}/*", "-nowarn", f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=BUILD)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"compiled in {time.perf_counter() - t0:.1f} s")
    return runtime_classpath(classes, jars)


# ---------------------------------------------------------------- JVMs

class Jvm:
    """One benchmark JVM. Set-up time runs from process start until the JVM
    prints READY, i.e. its SparkSession has finished one trivial job."""

    def __init__(self, classpath, args, deadline):
        self.deadline = deadline
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env["GRAFT_OT_FIXTURE"] = os.path.join(
            ROOT, "src", "test", "resources", "opentargets_nested.json")
        cmd = (["java", *ADD_OPENS, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
                "-cp", classpath,
                "perfbench.Main", *args])
        self.err_path = os.path.join(BUILD, "logs", f"{args[0]}.stderr")
        os.makedirs(os.path.dirname(self.err_path), exist_ok=True)
        self.err = open(self.err_path, "w")
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=self.err,
                                     text=True, cwd=tmp, env=env)
        self.setup_s = None

    def wait(self):
        """Reads stdout to the end; the process is killed at the deadline."""
        timer = threading.Timer(max(1.0, self.deadline - time.monotonic()), self.proc.kill)
        timer.start()
        try:
            for line in self.proc.stdout:
                if line.strip() == "READY" and self.setup_s is None:
                    self.setup_s = time.perf_counter() - self.t0
            self.proc.wait()
        finally:
            timer.cancel()
            if self.proc.poll() is None:
                self.proc.kill()
            self.proc.wait()
            self.err.close()
        if self.proc.returncode != 0 or self.setup_s is None:
            tail = read_text(self.err_path)[-2000:]
            raise BenchError(f"JVM exited with {self.proc.returncode}:\n{tail}")
        return self


def run_jvm(classpath, args, deadline):
    return Jvm(classpath, args, deadline).wait()


# ---------------------------------------------------------------- workloads

def pipeline_inputs(seed):
    d = os.path.join(BUILD, "inputs", f"pipeline_ref-{seed}")
    stamp = os.path.join(d, ".stamp")
    key = hashlib.sha256(checks.read_bytes(gen.__file__)).hexdigest()
    if not (os.path.exists(stamp) and read_text(stamp) == key):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, seed)
        with open(stamp, "w") as f:
            f.write(key)
    return d


def pipeline_once(classpath, inputs, seed, trace, deadline):
    out = os.path.join(BUILD, "out", f"pipeline_ref-{seed}-{trace}")
    shutil.rmtree(out, ignore_errors=True)
    res_path = out + ".json"
    jvm = run_jvm(classpath, ["pipeline", inputs, out, str(trace), res_path], deadline)
    res = read_json(res_path)
    res["setup_s"] = jvm.setup_s
    res["out"] = out
    return res


def check_pipeline(res, truth, digest_path, errors):
    """Returns (attempted, failed) over the pipeline's stages plus one output
    check; appends what failed to `errors`. The first run of a seed records
    its output digest at `digest_path`; every later run must match it."""
    stage_failures = [f"stage {f['name']} failed: {f['error']}" for f in res["failures"]]
    out_errors = checks.pipeline_errors(res["out"], truth)
    digest = checks.output_digest(res["out"])
    if os.path.exists(digest_path):
        if read_text(digest_path) != digest:
            out_errors.append("output digest differs from an earlier run of this seed")
    else:
        os.makedirs(os.path.dirname(digest_path), exist_ok=True)
        with open(digest_path, "w") as f:
            f.write(digest)
    errors += stage_failures + out_errors
    return len(res["stages"]) + 1, len(stage_failures) + (1 if out_errors else 0)


def record_path(workload, seed):
    return os.path.join(BUILD, "records", f"{workload}-{seed}.json")


def untraced_wall(workload, seed):
    """Untraced work_s that trace.overhead_frac is taken against: the seed's
    last untraced run in this checkout, else the median over the workload's
    untraced runs here. With none the traced run stops before it starts."""
    path = record_path(workload, seed)
    if os.path.exists(path):
        return read_json(path)["work_s"]
    others = [read_json(p)["work_s"] for p in glob.glob(record_path(workload, "*"))]
    if not others:
        raise BenchError(f"no untraced run of {workload} in this checkout: "
                         f"run it with --trace 0 first, for trace.overhead_frac")
    return statistics.median(others)


def record_untraced(workload, seed, work_s):
    path = record_path(workload, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"work_s": work_s}, f)


def run_pipeline(classpath, seed, trace, deadline):
    base_s = untraced_wall("pipeline_ref", seed) if trace else None
    inputs = pipeline_inputs(seed)
    truth = read_json(os.path.join(inputs, "truth.json"))
    digest_path = os.path.join(inputs, "output.digest")
    errors = []
    res = pipeline_once(classpath, inputs, seed, int(trace), deadline)
    attempted, failed = check_pipeline(res, truth, digest_path, errors)
    if not trace:
        record_untraced("pipeline_ref", seed, res["work_s"])
        for s in res["stages"]:
            log(f"stage {s['name']:<24} {s['s']:8.3f} s")
        log(f"jvm.peak_rss_mb {res['peak_rss_mb']:.1f} MB")
        return attempted, failed, errors, {"setup_s": res["setup_s"], "work_s": res["work_s"]}
    coverage = res["span_s"] / res["work_s"]
    log(f"trace: spans cover {100 * coverage:.1f}% of traced wall time")
    attempted += 1
    if coverage < 0.95:
        errors.append(f"layer spans cover only {100 * coverage:.1f}% of wall time")
        failed += 1
    for s in res["spans"]:
        log(f"span {s['name']:<20} {s['s']:8.3f} s  compiles={s['compiles']}")
    metrics = dict(res["metrics"], **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
    metrics["trace.overhead_frac"] = res["work_s"] / base_s - 1.0
    return attempted, failed, errors, metrics


def catalog_expected():
    return read_json(os.path.join(HERE, "catalog_expected.json"))


def catalog_sample(seed):
    """The session's queries in the seed's order. The set is fixed, so every
    seed times the same work; a set drawn per seed made the session time
    vary by 17% between seeds."""
    names = list(CATALOG_QUERIES)
    random.Random(seed).shuffle(names)
    return names


def catalog_once(classpath, names, trace, deadline):
    res_path = os.path.join(BUILD, "out", f"catalog-{trace}.json")
    os.makedirs(os.path.dirname(res_path), exist_ok=True)
    jvm = run_jvm(classpath, ["catalog", CATALOG_DATA, ",".join(names), str(trace), res_path],
                  deadline)
    res = read_json(res_path)
    res["setup_s"] = jvm.setup_s
    return res


def check_catalog(res, expected, errors):
    bad = 0
    for r in res["records"]:
        e = checks.catalog_record_errors(r, expected)
        errors += e
        bad += bool(e)
    return len(res["records"]), bad


def catalog_summary(res, expected):
    n = len(res["records"]) // 2
    _, tail = checks.tail_rank(n)
    for p in ("cold", "warm"):
        lat = checks.latencies(res["records"], p, expected)
        log(f"query_{p}_p50_ms {checks.percentile(lat, 50):.3f} ms   "
            f"query_{p}_p{tail:g}_ms {checks.percentile(lat, tail):.3f} ms   "
            f"query_{p}_max_ms {max(lat):.3f} ms   (n={n})")
    ok = sum(1 for r in res["records"] if not checks.catalog_record_errors(r, expected))
    log(f"catalog_queries_per_s {ok / res['work_s']:.3f} queries/s")


def run_catalog(classpath, seed, trace, deadline):
    base_s = untraced_wall("catalog_session", seed) if trace else None
    expected = catalog_expected()
    errors = []
    res = catalog_once(classpath, catalog_sample(seed), int(trace), deadline)
    attempted, failed = check_catalog(res, expected, errors)
    if not trace:
        record_untraced("catalog_session", seed, res["work_s"])
        catalog_summary(res, expected)
        log(f"jvm.peak_rss_mb {res['peak_rss_mb']:.1f} MB")
        return attempted, failed, errors, {"setup_s": res["setup_s"], "work_s": res["work_s"]}
    metrics = dict(res["metrics"], **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
    metrics["trace.overhead_frac"] = res["work_s"] / base_s - 1.0
    return attempted, failed, errors, metrics


WORKLOADS = {"pipeline_ref": run_pipeline, "catalog_session": run_catalog}
# per-layer metrics a workload's traced run must report; the rest read 0
TRACED = {
    "pipeline_ref": {n for n, _ in PER_LAYER} - {n for n, _ in CATALOG},
    "catalog_session": {n for n, _ in ENGINE + CATALOG}
    | {"jvm.peak_rss_mb", "trace.overhead_frac"},
}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # each workload is a fixed amount of work (~55 s and ~35 s on 4 cores),
    # so runs stay comparable whatever the measuring window
    ap.add_argument("--seconds", type=float, default=60)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # SIGTERM unwinds like an error, so the running JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        os.makedirs(BUILD, exist_ok=True)
        classpath = build()
        deadline = time.monotonic() + DEADLINE_S
        attempted, failed, errors, values = WORKLOADS[a.workload](
            classpath, a.seed, bool(a.trace), deadline)
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    for e in errors[:20]:
        log(f"CHECK FAILED: {e}")
    names = PER_LAYER if a.trace else END_TO_END
    owned = TRACED[a.workload] if a.trace else {n for n, _ in END_TO_END}
    missing = owned - set(values)
    if missing:
        print(f"benchmark failed: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 1
    metrics = {}
    for name, unit in names:
        v = float(values[name]) if name in owned else 0.0
        metrics[name] = {"value": v, "unit": unit}
        log(f"{name} {v:.6g} {unit}")
    print(json.dumps({"correct": failed == 0 and not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
