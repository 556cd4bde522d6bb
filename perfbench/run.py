#!/usr/bin/env python3
"""The repository's benchmark: two workloads at local[<cores>], timed from
outside the program through its public functions.

    python3 perfbench/run.py --workload etl_anchor --seed 1 --seconds 12 --trace 0

Run it from the repository root. The first run builds the program and the
harness (perfbench/harness, an sbt build that depends on the repository's
build) into the checkout; later runs reuse the build while the sources are
unchanged. Everything a run writes stays under .bench_build/.

A run makes the seeded inputs, starts one JVM, loads the inputs and runs
one untimed warm-up pass, then times full passes until --seconds have
passed. `setup_s` runs from the start of input generation to the first
timed pass; `wall_s` and `cpu_s` (JVM process CPU) are medians over the
timed passes; `peak_rss_mb` is the JVM's peak resident memory. With
--trace 1 the same JVM then runs the listener and span passes, and the run
prints the per-layer metrics of BENCHMARK.json instead; layers the
workload does not run read 0.

Every operation is checked: each E1 pass against the generator's planted
facts, each catalog result of the warm-up against its DuckDB oracle, and
the prepared corpus against its invariants. The last line of standard
output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
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
HARNESS = HERE / "harness"
JVM_HEAP = "2g"

# Input sizes. etl_anchor: share of gen_anchor.py's collection bodies, and
# rows per CSV in the warm-up copy. operators_mix: rows of the catalog
# tables (and of the small ones some queries are checked on), and base
# documents of the corpus (each with nine copies).
ETL_SCALE = 0.02
ETL_WARM_ROWS = 1000
CATALOG = dict(n_events=10_000, n_users=150, n_emb=500, n_docs=500)
CATALOG_SMALL = dict(n_events=1_000, n_users=15, n_emb=150, n_docs=150)
CHECKED_SMALL = {"ann15_mmr_rerank"}
CORPUS_BASE = 30

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", *sorted((ROOT / "project").glob("*.sbt")),
             ROOT / "project" / "build.properties",
             *sorted((ROOT / "src" / "main").rglob("*")),
             *sorted(p for p in HARNESS.rglob("*")
                     if "target" not in p.relative_to(HARNESS).parts)]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the program and the harness once per source state; returns
    the runtime classpath."""
    stamp = BUILD / "classpath.json"
    digest = source_digest()
    if stamp.is_file():
        saved = json.loads(stamp.read_text())
        if saved.get("digest") == digest:
            return saved["classpath"]
    if shutil.which("sbt") is None:
        die("sbt not found")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
        "-Dsbt.server.autostart=false"]).strip()
    log("building program and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export harness/Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    classpath = lines[-1].strip()
    log(f"built in {time.time() - t0:.1f} s")
    stamp.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    return classpath


def make_inputs(workload, seed, dest):
    """Writes the workload's seeded inputs under dest."""
    import inputs
    if workload == "etl_anchor":
        facts = inputs.anchor_csvs(ROOT, dest / "raw", seed, ETL_SCALE,
                                   warm_rows=ETL_WARM_ROWS)
        (dest / "facts.properties").write_text(
            "".join(f"{k}={v}\n" for k, v in facts.items()))
    else:
        inputs.catalog_tables(dest / "catalog" / "main", seed, **CATALOG)
        inputs.catalog_tables(dest / "catalog" / "small", seed, **CATALOG_SMALL)
        inputs.corpus_docs(dest / "corpus", seed, CORPUS_BASE)


def run_jvm(classpath, args, work, deadline):
    """Runs the harness JVM; returns (seconds from launch to the end of its
    set-up, its result)."""
    out = work / "result.json"
    tmp = work / "tmp"
    tmp.mkdir()
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           *ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--inputs", str(work / "inputs"),
           "--work", str(work), "--seconds", str(args.seconds),
           "--seed", str(args.seed), "--trace", str(args.trace),
           "--out", str(out)]
    with open(work / "jvm.log", "w") as jlog:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                stdout=jlog, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("harness JVM ran past its time limit")
    if not out.is_file():
        die(f"harness JVM wrote no result (exit {proc.returncode}); "
            f"see {work / 'jvm.log'}")
    res = json.loads(out.read_text())
    if "setup_end_epoch_s" not in res or not res.get("wall_s"):
        die("the run did not reach its timed passes: "
            + "; ".join(res["failures"]))
    return res["setup_end_epoch_s"] - launched, res


def python_checks(workload, work):
    """Checks on what the warm-up wrote; returns [(operation, problem)]."""
    import checks
    if workload != "operators_mix":
        return []
    tables = work / "inputs" / "catalog"
    return (checks.catalog(work / "check", tables / "main", tables / "small",
                           CHECKED_SMALL)
            + checks.corpus(work / "check"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["etl_anchor", "operators_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    for need in (spec_path, ROOT / "build.sbt", ROOT / "src" / "main",
                 ROOT / "tools" / "gen_anchor.py"):
        if not need.exists():
            die(f"{need.relative_to(ROOT)} not found: run from the root of "
                "a checkout of the repository")
    spec = json.loads(spec_path.read_text())
    sys.dont_write_bytecode = True
    sys.path.insert(0, str(HERE))

    classpath = build()
    # A run may take 180 s, not counting a first run's build.
    deadline = time.time() + 165
    work = BUILD / "work" / args.workload
    if work.exists():
        shutil.rmtree(work)
    (work / "inputs").mkdir(parents=True)

    t0 = time.time()
    make_inputs(args.workload, args.seed, work / "inputs")
    gen_s = time.time() - t0
    jvm_setup_s, res = run_jvm(classpath, args, work, deadline)
    done = python_checks(args.workload, work)
    attempted = res["attempted"] + len(done)
    failures = res["failures"] + [f"{op}: {p}" for op, p in done if p]
    for f in failures:
        log(f"FAILED {f}")

    def med(k):
        return statistics.median(res[k]) if res.get(k) else 0.0

    if args.trace:
        def layer(n):
            if f"layer:{n}" in res:
                return res[f"layer:{n}"]
            if n == "checks.failed_ratio":
                return len(failures) / max(1, attempted)
            return med(n)  # a per-pass sample list, or a layer not run: 0
        metrics = {m["name"]: {"value": layer(m["name"]), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        traces = BUILD / "traces"
        traces.mkdir(exist_ok=True)
        for f in (work / "traces").glob("*.jsonl"):
            kept = traces / f"{args.workload}-seed{args.seed}-{f.name}"
            shutil.copy(f, kept)
            log(f"spans written to {kept}")
    else:
        values = {"setup_s": gen_s + jvm_setup_s, "wall_s": med("wall_s"),
                  "cpu_s": med("cpu_s"), "peak_rss_mb": res["peak_rss_mb"]}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        log(f"{args.workload}: {len(res['wall_s'])} timed passes "
            f"{[round(w, 3) for w in res['wall_s']]}")
    for name, m in metrics.items():
        log(f"{name} = {m['value']:.6g} {m['unit']}")
    log(f"failed_ratio = {len(failures)}/{attempted}")
    shutil.rmtree(work / "inputs", ignore_errors=True)
    shutil.rmtree(work / "check", ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
