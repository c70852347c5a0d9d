"""Self-test of the benchmark's accounting: a corrupted op output must count
as a failed op and lower ``ok_op_ratio``.

Usage (from the repository root; takes about two minutes on 4 cores):

    python3 perfbench/selftest.py

It runs the ``window_queries`` workload with ``--corrupt-every 7``: every
7th checked result of the timed ops is replaced by a wrong value of the
same type before the check sees it. A round makes 33 checks, so every op
carries a corrupted result however many ops fit in ``--seconds``. The test
passes if the run reports ``correct: false``, at least one failed op and
``ok_op_ratio`` below 1. That a clean result passes its check is shown by
``check_helpers`` here and by ``ok_op_ratio`` 1.0 on ordinary runs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]


def check_helpers() -> None:
    from run import tail
    from workloads import Workload, _corrupt

    for v in (True, 3, 2.5, [1, 2], {(1, 2), (3, 4)}):
        assert _corrupt(v) != v, v
    wl = Workload(None, "", 0, None, corrupt_every=2)
    assert wl.expect("clean", 5, 5)
    assert not wl.expect("corrupted", 5, 5)
    assert tail(list(range(100))) == (89, 90, 100)
    assert tail([1.0, 3.0, 2.0]) == (3.0, 100, 3)

    # BENCHMARK.json lists exactly the per-layer metrics a traced run prints
    from tracing import per_layer_names

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        listed = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    assert listed == per_layer_names(), "BENCHMARK.json per_layer is out of date"


def check_run() -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "window_queries",
           "--seed", "7", "--seconds", "1", "--trace", "0", "--corrupt-every", "7"]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True, timeout=300)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    ratio = res["metrics"]["ok_op_ratio"]["value"]
    print(f"corrupted run: attempted={res['attempted']} failed={res['failed']} ok_op_ratio={ratio}")
    assert res["correct"] is False
    assert res["failed"] >= 1
    assert ratio == (res["attempted"] - res["failed"]) / res["attempted"] < 1.0


if __name__ == "__main__":
    check_helpers()
    check_run()
    print("selftest ok")
