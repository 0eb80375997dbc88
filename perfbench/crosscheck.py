#!/usr/bin/env python3
"""Regenerate perfbench/expected/ann_ladders.json from outputs the
DuckDB oracle accepts.

    python3 perfbench/crosscheck.py

1. writes the fixed ladder corpus (the one ann_ladders reads);
2. runs graft.Verify on it for the ladder queries;
3. runs tools/check.py, the repo's oracle compare, on Verify's output,
   and stops unless every query matches its oracle SQL;
4. fingerprints each output exactly as the benchmark does in-run
   (row count + order-independent hash) and writes the expected file.

Needs the duckdb and pyarrow Python packages (tools/check.py does);
the benchmark itself does not.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

# The ann_ladders list (Workloads.Ladder).
QUERIES = ["dedup_best_of_cluster", "sim_knn_ivfpq_res", "txt_unigram_viterbi",
           "graph_hits"]


def java(classes, tmp, *args, env=None):
    cmd = (["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")])]
           + list(args))
    return subprocess.run(cmd, env=env, check=True, stdout=subprocess.PIPE,
                          text=True).stdout


def main():
    classes, _ = build.build()
    os.makedirs(build.BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="crosscheck-", dir=build.BUILD)
    corpus, out = os.path.join(work, "sf"), os.path.join(work, "verify")
    java(classes, work, "perfbench.Crosscheck", "corpus", corpus)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(QUERIES),
               SPARK_GRAFT_CPUS=str(os.cpu_count()))
    java(classes, work, "graft.Verify", corpus, out, env=env)
    check = subprocess.run(
        [sys.executable, os.path.join(build.ROOT, "tools", "check.py"), out, corpus]
        + QUERIES, stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    if check.returncode != 0 or f"{len(QUERIES)} ok, 0 bad" not in check.stdout:
        sys.exit("crosscheck: oracle compare did not pass; expected file left unchanged")
    fps = json.loads(java(classes, work, "perfbench.Crosscheck", "fingerprint",
                          out, *QUERIES).strip().splitlines()[-1])
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected", "ann_ladders.json")
    with open(path, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {len(fps)} fingerprints to {path}")


if __name__ == "__main__":
    main()
