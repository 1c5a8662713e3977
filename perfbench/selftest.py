"""Self-test of the benchmark's answer checking.

Runs one short table_io workload in-process with one expected answer made
deliberately wrong (the generator's scan sum is off by one), and exits 0
only if the run counts failed ops and reports ``correct: false``.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, run  # noqa: E402


def main() -> int:
    real = gen.make_table_io

    def wrong(seed, out_dir):
        d = real(seed, out_dir)
        d["total"] = dict(d["total"], a=d["total"]["a"] + 1)
        return d

    gen.make_table_io = wrong
    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            run.main(["--workload", "table_io", "--seed", "1", "--seconds", "1"])
    finally:
        gen.make_table_io = real
    result = json.loads(out.getvalue().strip().splitlines()[-1])
    ok = result["correct"] is False and result["failed"] >= 1
    print(json.dumps({"selftest": "wrong expected answer is counted", "ok": ok,
                      "attempted": result["attempted"], "failed": result["failed"]}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
