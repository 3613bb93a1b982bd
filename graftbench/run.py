#!/usr/bin/env python3
"""graft end-to-end benchmark entry point.

Usage (from the root of a checkout):

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the repository's program together with the benchmark harness
(`graftbench/build.sbt`, an sbt build that depends on the root build) the
first time it runs in a checkout, caches the resulting runtime classpath
under the build directory, then runs the harness in one JVM. The harness
prints its result as the last line of standard output; this script passes
its output and exit code through unchanged.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_multitenant", "curate")

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_fingerprint():
    """Hash of every build input, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            inputs += [os.path.join(dirpath, f) for f in sorted(filenames)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(out):
    """Compile program + harness with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("graftbench: no program sources (src/main/scala) in this checkout")
    if shutil.which("sbt") is None:
        sys.exit("graftbench: sbt not found on PATH")
    stamp = os.path.join(out, "classpath.txt")
    fp = source_fingerprint()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "-batch", "-Dsbt.server.forcestart=false",
           "export graftbench/Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        errors = [l for l in lines if l.startswith("[error]")] or lines[-40:]
        sys.stderr.write("\n".join(errors[:60]) + "\n")
        sys.exit(f"graftbench: build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(out, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        sys.exit("graftbench: --seconds must be at least 1")

    out = build_dir()
    cp = build(out)
    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-dir", os.path.join(out, "traces")]
    try:
        code = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
