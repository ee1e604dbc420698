#!/usr/bin/env python3
"""End-to-end benchmark of graft's multiple-association pipeline.

Times whole studies through graft.Pipeline.run, from a cohort file on disk
to results written on disk, and (with --trace 1) splits each study into the
library's layers. Run from the repository root:

    python3 perfbench/run.py --workload phewas_k5 --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke

The first run builds the library and the harness with sbt (perfbench/build.sbt)
into .bench_build/; later runs reuse the build while the sources are
unchanged. The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
TIME_LIMIT = 170.0  # seconds a run may take once the build exists

# Which cohort each workload reads and how the study is configured.
WORKLOADS = {
    "phewas_k5": dict(cohort="phewas", predictors="snp", covariates="sex,age,bmi,cat3,pc1",
                      categorical="cat3", model="firth", missing="fail", null_values=[],
                      phewas=True, output_type="csv"),
    "phewas_k20": dict(cohort="phewas", predictors="snp",
                       covariates="sex,age,bmi,cat3," + ",".join("pc%d" % i for i in range(1, 17)),
                       categorical="cat3", model="firth", missing="fail", null_values=[],
                       phewas=True, output_type="csv"),
    "biobank_gram": dict(cohort="biobank", predictors="snp", covariates="age,bmi,cat3,pc1,pc2",
                         categorical="cat3", model="firth", missing="fail", null_values=[],
                         phewas=True, output_type="csv"),
    # no categorical covariate here: a mean fill over one fails today
    # (see README, finding c)
    "quant_linear_tsv": dict(cohort="quant", predictors=None,
                             covariates="sex,age,bmi,batch,pc1,pc2,pc3", categorical="",
                             model="linear", missing="mean", null_values=list(gen.NULL_MARKERS),
                             phewas=False, output_type="parquet"),
}

JVM_OPTS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the library's main sources and this harness."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_build(digest):
    """Compile with sbt unless a build of these exact sources exists."""
    stamp = os.path.join(BUILD, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("digest") == digest and all(os.path.exists(p) for p in b["classpath"]):
            return b["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building the library and harness with sbt (first run only)")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(BUILD, "sbt.log"), "w") as logf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=logf,
                           text=True, timeout=850)
        logf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        log("sbt build failed; see " + os.path.join(BUILD, "sbt.log"))
        sys.exit(3)
    classpath = lines[-1].strip().split(os.pathsep)
    archive = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    # A class-data-sharing archive of the classes one small traced study
    # loads: it takes about 10 s off every later JVM's start, which
    # leaves room in a run for more measured studies.
    log("writing the JVM class-data-sharing archive")
    one_run("phewas_k5", 1, 1.0, 1, True, classpath, digest, time.time() + 300,
            jvm_opts=["-XX:ArchiveClassesAtExit=" + archive])
    with open(stamp, "w") as f:
        json.dump(dict(digest=digest, classpath=classpath), f)
    return classpath


def host_stamps(digest):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return dict(nproc=os.cpu_count(), load1m=os.getloadavg()[0], commit=commit,
                source_digest=digest, python=sys.version.split()[0])


def run_jvm(classpath, spec, deadline, jvm_opts):
    """Run one benchmark run in a fresh JVM; returns its result dict or None."""
    os.makedirs(spec["out_dir"], exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spec_path = os.path.join(BUILD, "spec-%s.json" % spec["workload"])
    with open(spec_path, "w") as f:
        json.dump(spec, f, indent=1)
    if os.path.exists(spec["result_path"]):
        os.remove(spec["result_path"])
    archive = os.path.join(BUILD, "classes.jsa")
    if not jvm_opts and os.path.isfile(archive):
        jvm_opts = ["-XX:SharedArchiveFile=" + archive]
    cmd = (["java"] + JVM_OPTS + jvm_opts + ["-Djava.io.tmpdir=" + tmp, "-cp", os.pathsep.join(classpath),
                                             "perfbench.Main", spec_path])
    log_path = os.path.join(BUILD, "jvm-%s.log" % spec["workload"])
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("run exceeded its time limit; stopping the JVM")
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.isfile(spec["result_path"]):
        log("JVM exited with %s; see %s" % (proc.returncode, log_path))
        return None
    with open(spec["result_path"]) as f:
        return json.load(f)


def expected_metrics(kind):
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def select_metrics(res, kind):
    """Keep the metrics of one kind from BENCHMARK.json; a missing metric
    or a wrong unit makes the run incorrect."""
    want = expected_metrics(kind)
    got = res["metrics"]
    missing = sorted(set(want) - set(got))
    wrong = sorted(n for n in want if n in got and got[n]["unit"] != want[n])
    # a metric no study produced (every one failed) reads NaN
    nan = sorted(n for n in want if n in got and not (
        isinstance(got[n]["value"], (int, float)) and math.isfinite(got[n]["value"])))
    ok = not missing and not wrong and not nan
    if not ok:
        res.setdefault("problems", []).append(
            "metrics missing %s, wrong unit %s, not measured %s" % (missing, wrong, nan))
    return ok, {n: dict(got[n], value=got[n]["value"] if n not in nan else 0.0)
                for n in want if n in got}


def one_run(workload, seed, seconds, trace, smoke, classpath, digest, deadline, jvm_opts=()):
    w = WORKLOADS[workload]
    cohorts = os.path.join(BUILD, "cohorts")
    cdir = gen.ensure(cohorts, w["cohort"], seed, smoke)
    mdir = gen.ensure(cohorts, "phewas", seed, smoke) if trace else cdir
    with open(os.path.join(cdir, "cohort.json")) as f:
        meta = json.load(f)
    predictors = w["predictors"] or "i:1-%d" % (1 + meta["predictors"])
    out_dir = os.path.join(BUILD, "out")
    shutil.rmtree(out_dir, ignore_errors=True)
    spec = dict(w, predictors=predictors, workload=workload, seed=seed, seconds=seconds,
                trace=bool(trace), cohort_dir=cdir, models_cohort_dir=mdir, out_dir=out_dir,
                state_dir=os.path.join(BUILD, "state"),
                result_path=os.path.join(BUILD, "result-%s.json" % workload),
                source_digest=digest, warmup_studies=1 if smoke else 2,
                min_studies=1 if smoke else 3)
    del spec["cohort"]
    return run_jvm(classpath, spec, deadline, list(jvm_opts))


def smoke(classpath, digest):
    """Every workload at a tiny shape, one traced run each (which also
    measures the untraced studies); asserts that every metric in
    BENCHMARK.json is printed with its unit and that every output check
    passed."""
    ok = True
    for workload in WORKLOADS:
        res = one_run(workload, 1, 1.0, 1, True, classpath, digest, time.time() + 170)
        good = res is not None
        if good:
            e2e_ok, e2e = select_metrics(res, "end_to_end")
            layer_ok, layer = select_metrics(res, "per_layer")
            good = e2e_ok and layer_ok and res["correct"] and res["failed"] == 0
            for name, m in sorted(dict(e2e, **layer).items()):
                print("  %-17s %-28s %16.6g %s" % (workload, name, m["value"], m["unit"]))
        ok &= good
        print("smoke %-17s %s %s" % (workload, "ok" if good else "FAILED",
              "" if good else json.dumps(res and res.get("problems"))), flush=True)
    print(json.dumps(dict(smoke_ok=ok)))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="run every workload at a tiny shape")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala")):
        log("run from the repository root: the library sources (src/main/scala) are missing")
        return 2
    digest = source_digest()
    classpath = ensure_build(digest)
    if a.smoke:
        return smoke(classpath, digest)
    stamps = host_stamps(digest)
    res = one_run(a.workload, a.seed, a.seconds, a.trace, False, classpath, digest,
                  time.time() + TIME_LIMIT)
    if res is None:
        return 4
    ok, metrics = select_metrics(res, "per_layer" if a.trace else "end_to_end")
    res["correct"] = res["correct"] and ok
    res["metrics"] = metrics
    stamps.update(res.get("stamps", {}), load1m_end=os.getloadavg()[0])
    print(json.dumps(dict(stamps=stamps, problems=res.get("problems", []))))
    print(json.dumps(dict(correct=bool(res["correct"]), attempted=int(res["attempted"]),
                          failed=int(res["failed"]), metrics=res["metrics"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
