#!/usr/bin/env python3
"""Run one benchmark workload end to end.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (build.py), then runs the
harness in one JVM on local[<all cores>]. The harness prints a `report`
line with the workload's end-to-end metrics and, last, the result line:
{"correct", "attempted", "failed", "metrics"}. Each run also leaves a
self-describing artifact in .bench_build/artifacts/ (see compare.py).

Inputs, Spark local dirs, stores and checkpoints live in a private
temp tree under .bench_build/ and are deleted when the run ends.
"""
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def heap():
    """Half of the machine's memory, clamped to 2-8 GB: the driver heap
    the repo's own benchmark and test runs get (SPARK_DRIVER_MEM)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"-Xmx{min(8, max(2, g))}g"


def commit():
    try:
        # the ceiling keeps git from looking above the checkout
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(build.ROOT))
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10, env=env)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main(argv):
    classes, digest = build.build()
    os.makedirs(build.BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=build.BUILD)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", heap(), "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.commit={commit()}", f"-Dperfbench.source={digest}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")]),
              "perfbench.Main"] + argv
           + ["--work", work, "--artifacts", os.path.join(build.BUILD, "artifacts")]
           + ([] if "--expected" in argv else
              ["--expected", os.path.join(HERE, "expected", "ann_ladders.json")]))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        sys.exit(proc.returncode)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if not last.startswith('{"correct"'):
        sys.exit("perfbench: harness printed no result line")


if __name__ == "__main__":
    main(sys.argv[1:])
