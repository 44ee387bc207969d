#!/usr/bin/env python3
"""Record the committed battery fingerprints, gated on the DuckDB oracle.

    python3 perfbench/record.py

For each battery's table scale this collects every battery query once,
dumps the results next to their oracle SQL and runs the repository's
oracle comparison (tools/check_correctness.py) on the dump. Only when
every query matches its oracle are the fingerprints written to
perfbench/fingerprints.json. Needs the duckdb Python module.
"""
import json
import os
import shutil
import subprocess
import sys

import run


def main():
    spec = run.load_json(os.path.join(run.HERE, "spec.json"))
    jars = run.spark_jars()
    classes = run.build(jars)
    by_scale = {}
    for w in spec["workloads"].values():
        if w["kind"] == "battery":
            by_scale.setdefault(w["sf"], []).extend(w["queries"])
    out = {}
    for sf, queries in sorted(by_scale.items()):
        data = run.data_dir(sf)
        work = os.path.join(run.BUILD, "record", f"sf{sf}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        fps = os.path.join(work, "fingerprints.json")
        cmd = (["java", "-Xmx3g", "-Xss8m"] +
               [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
                "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
                "--mode", "record", "--cores", "4", "--data", data,
                "--queries", ",".join(queries), "--dump", os.path.join(work, "dump"),
                "--out", fps])
        subprocess.run(cmd, check=True, cwd=work, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check_correctness.py"),
             data, os.path.join(work, "dump")],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        print(check.stdout)
        if check.returncode != 0 or check.stdout.count("PASS ") != len(queries):
            sys.exit(f"oracle mismatch at sf{sf}: fingerprints not recorded")
        out[f"sf{sf}"] = run.load_json(fps)
    with open(os.path.join(run.HERE, "fingerprints.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
