"""Record the expected output digests of the read-only workload from the
current program: runs `queries` once against an empty digest file and
stores the digest every query produced.

    python3 perfbench/record_digests.py

Use it only on a commit whose query outputs have been cross-checked (for
example against the DuckDB oracle with tools/local_verify.py); the stored
digests are what every later run is checked against.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402

# the correctness pass labels a check with the query name alone; checks of
# the timed sweeps add "/<sweep>"
GOT = re.compile(r"^check ([^/\s]+)(/\d+)?: no expected digest \(got (\S+)\)$")


def main():
    digests = {}
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=build.build_dir(),
                                     delete=False) as f:
        f.write("{}")
    try:
        env = dict(os.environ, PERFBENCH_DIGESTS=f.name)
        subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", "queries",
                        "--seed", "0", "--seconds", "1", "--trace", "0"],
                       cwd=ROOT, env=env, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, check=True)
        rec = json.loads((build.build_dir() / "results" /
                          "queries-seed0-trace0.json").read_text())
        for line in rec["failures"]:
            m = GOT.match(line)
            if not m:
                raise SystemExit(f"unexpected failure: {line}")
            q, got = m.group(1), m.group(3)
            if digests.setdefault(q, got) != got:
                raise SystemExit(f"{q} gave two digests: {digests[q]}, {got}")
    finally:
        os.unlink(f.name)
    (BENCH / "expected_digests.json").write_text(
        json.dumps(dict(sorted(digests.items())), indent=1) + "\n")
    print(f"{len(digests)} digests recorded")


if __name__ == "__main__":
    main()
