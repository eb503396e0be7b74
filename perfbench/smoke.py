"""Smoke test of the benchmark itself, at tiny sizes, in one session.

    python3 perfbench/smoke.py

For every workload it checks that one pass passes its output check,
that the check rejects a deliberately wrong reference, and that the
traced run measures every per-layer metric of the layers that workload
runs, each above 0 unless it may read 0.  Exits non-zero on the first
failure.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    run.WORK = os.path.join(run.ROOT, ".perfbench_work", "smoke")
    shutil.rmtree(run.WORK, ignore_errors=True)
    os.environ["TMPDIR"] = os.path.join(run.WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.WORK, "spark-local")
    os.makedirs(os.environ["TMPDIR"])
    run.SIZES = {"extract_fused": {"n_docs": 200}, "curate_ladder": {"n_docs": 300}}
    run.MEGA_SPANS = 3000

    import ledger
    import workloads

    workloads.CHUNK_WIDTH = 1024  # so the 3,000-span document is chunked
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["per_layer"]]
    assert set(run.LAYERS) == {w["name"] for w in spec["workloads"]}, "workload list"

    tracer = ledger.Tracer("smoke", 0)
    spark, session_times = run.start_session(tracer)
    try:
        for name in run.LAYERS:
            inp_dir, meta = run.make_inputs(name, 1)
            wl = run.build_workload(name, spark, inp_dir, meta)
            loop = run.Loop(wl, run.jvm_pid())
            loop.one()
            assert loop.failed == 0 and loop.times, f"{name}: checked pass failed"

            if name == "extract_fused":
                good = wl.expected
                wl.expected = (good[0], str(int(good[1]) + 1))
                wl.prepare()
                wl.run_pass()
                assert wl.check() is not None, "wrong digest was accepted"
                wl.expected = good
                mega_dir, _ = run.make_inputs("mega", 1)
                mega = (mega_dir, run.expected_digest(spark, mega_dir))
            else:
                wl.funnel = [(stage, n + 1) for stage, n in wl.funnel]
                wl.prepare()
                wl.run_pass()
                assert wl.check() is not None, "wrong funnel was accepted"
                wl.funnel = None
                mega = None

            # raises unless every per-layer metric of the workload's
            # layers was measured and reads above 0 where it must
            run.traced_run(spark, loop, tracer, session_times, mega)
            assert loop.failed == 0, f"{name}: a traced pass failed"
            print(f"smoke: {name} ok, {len(run.measured_names(name, names))} "
                  "per-layer metrics measured", file=sys.stderr)
    finally:
        run.stop_session(spark)
        shutil.rmtree(run.WORK, ignore_errors=True)
    print("smoke ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
