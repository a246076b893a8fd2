#!/usr/bin/env python3
"""graft benchmark entry point.

Builds the harness in this directory against the repository's own
sources (once per source state), runs one workload in a fresh JVM and
prints a readable report followed by the result JSON as the last line
of stdout:

    python3 perfbench/run.py --workload curate --seed 1 --seconds 15 --trace 0

See perfbench/README.md for the workloads, metrics and traced runs.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# class-data-sharing archive of every class a run loads: made once per
# build, it takes JVM start and first-job class loading off set-up
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ("curate", "dedup", "incremental")
RUN_LIMIT_S = 175          # a run (after the build) ends within this
BUILD_LIMIT_S = 840        # the first run in a checkout also builds
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, log=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            print("".join(f.readlines()[-40:]), file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def sbt_env():
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compiles the harness with the repository's main sources; returns
    the runtime classpath. Skipped when the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    digest = source_digest(source_files())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as logf:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=logf, stderr=subprocess.STDOUT,
                timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out", log)
    if rc != 0:
        fail(f"build failed (exit {rc})", log)
    with open(log) as f:
        lines = [l.strip() for l in f if ".jar" in l and os.pathsep in l]
    if not lines:
        fail("build printed no classpath", log)
    classpath = lines[-1]
    make_archive(classpath)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def java_cmd(work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    return cmd + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def jvm_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def make_archive(classpath):
    """One small pass of every workload in a JVM that archives the
    classes it loaded; runs without the archive if this fails."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "archive-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(work) + [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-cp", classpath,
                            "graftbench.Main", "--archive", "1", "--work", work]
    with open(os.path.join(BUILD, "archive.log"), "w") as logf:
        try:
            rc = subprocess.run(cmd, cwd=work, env=jvm_env(work), stdout=logf,
                                stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S // 2).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if not os.path.exists(ARCHIVE):
        print("perfbench: no class archive; runs start without it", file=sys.stderr)


def cpu_times():
    """(steal, total) jiffies of the host's CPUs so far."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def git_commit():
    if shutil.which("git") and os.path.exists(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    started = time.monotonic()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "work", str(os.getpid()))
    reports = os.path.join(BUILD, "reports")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(reports, exist_ok=True)
    out = os.path.join(work, "result.json")
    log = os.path.join(reports, f"{tag}.log")
    cmd = java_cmd(work)
    if os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", out,
            "--spans", os.path.join(reports, f"{tag}.spans.jsonl")]

    load_before = os.getloadavg()
    steal_before = cpu_times()
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, env=jvm_env(work), stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S - (time.monotonic() - started))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail("run timed out", log)
    load_after = os.getloadavg()
    steal_after = cpu_times()
    if rc != 0 or not os.path.exists(out):
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM exited with {rc}", log)
    with open(out) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    ctx = result["context"]
    ctx.update({"load_before": load_before, "load_after": load_after,
                "steal_share": (steal_after[0] - steal_before[0]) / max(1, steal_after[1] - steal_before[1]),
                "git_commit": git_commit(), "source_digest": source_digest(source_files())[:16]})
    with open(os.path.join(reports, f"{tag}.json"), "w") as f:
        json.dump(result, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={ctx['passes']} (measured {ctx['measured_passes']}) docs/pass={ctx['docs_per_pass']} "
          f"correct={result['correct']}")
    for name, m in result["metrics"].items():
        print(f"  {name:<58} {m['value']:>16.6g} {m['unit']}")
    if not args.trace:
        print(f"  {'failed_share':<58} {ctx['failed_share']:>16.6g} ratio "
              f"({result['failed']}/{result['attempted']})")
        print(f"  commit_tail_s is p{ctx['commit_tail_pct']:g} of {ctx['commit_samples']} commit intervals")
    print(f"  host: nproc={ctx['nproc']} load {load_before[0]:.2f}->{load_after[0]:.2f} "
          f"steal={ctx['steal_share']:.3f} "
          f"canary(1->{ctx['nproc']})={ctx['canary_eff_1_to_nproc']:.3f} java={ctx['java_version']} "
          f"spark={ctx['spark_version']} commit={ctx['git_commit'] or ctx['source_digest']}")
    failing = {k: v for k, v in ctx["checks_failed"].items() if v}
    if failing or ctx["errors"]:
        print(f"  FAILED checks: {failing} errors: {ctx['errors']}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
