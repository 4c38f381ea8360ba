#!/usr/bin/env python3
"""Maintains the expected result digests in perfbench/expected/.

    python3 perfbench/digests.py record <scale>
        runs every registered query on perfbench/fixtures/<scale> and
        writes perfbench/expected/<scale>.tsv;
    python3 perfbench/digests.py confirm <scale> <verify_out>
        recomputes the digests of the results `graft.Verify` wrote to
        <verify_out> (after `tools/local_verify.py` passed them against the
        DuckDB oracle) and checks they equal the expected file.
"""
import os
import shutil
import subprocess
import sys

import run


def main():
    if len(sys.argv) < 3 or sys.argv[1] not in ("record", "confirm") or (sys.argv[1] == "confirm" and len(sys.argv) < 4):
        run.fail(__doc__)
    mode, scale = sys.argv[1], sys.argv[2]
    expected = os.path.join(run.HERE, "expected", f"{scale}.tsv")
    cp = run.build()
    run_dir = os.path.join(run.WORK, f"digests-{os.getpid()}")
    env, cmd = run.jvm(cp, run_dir)
    if mode == "record":
        cmd += ["record", "--data", os.path.join(run.HERE, "fixtures", scale), "--out", expected]
    else:
        cmd += ["confirm", "--verify-out", os.path.abspath(sys.argv[3]), "--expected", expected]
    try:
        code = subprocess.run(cmd, cwd=run_dir, env=env).returncode
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
