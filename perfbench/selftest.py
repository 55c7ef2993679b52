#!/usr/bin/env python3
"""Self-tests of the benchmark: seeded generators and the planted-count
oracle against a sequential run of the program (see src/SelfTest.scala).

    python3 perfbench/selftest.py

Exit code 0 when every test passed.
"""
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def main():
    build.build()
    root = build.BUILD / "selftest"
    shutil.rmtree(root, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    cmd = run.java_cmd(root / "tmp", "perfbench.SelfTest") + [str(root / "work")]
    try:
        done = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                              text=True, timeout=600)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    sys.stdout.write("".join(l + "\n" for l in done.stdout.splitlines()
                             if l.startswith(("ok ", "FAIL", "     "))))
    if done.returncode != 0:
        sys.stderr.write(done.stderr[-4000:])
    return done.returncode


if __name__ == "__main__":
    sys.exit(main())
