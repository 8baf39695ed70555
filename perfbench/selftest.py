"""Self-test of the tracer's Spark counts across a long session history.

The session keeps only the last 100 jobs and 200 stages in its status
store (``spark.ui.retainedJobs`` / ``retainedStages`` in ``get_spark``).
This test runs more than 400 single-stage jobs in nested spans and checks
that every span's job count is exact and that every stage is either read
or reported as unseen, never silently dropped.

    python3 perfbench/selftest.py     # exit status 0 when all checks hold
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def _jobs(sc, n: int) -> None:
    for _ in range(n):
        sc.parallelize([1], 1).count()  # one job, one stage


def main() -> int:
    from run import CORES, _size_env, _stop
    from spans import Tracer

    workdir = os.path.join(os.path.dirname(HERE), ".perfbench", f"selftest-{os.getpid()}")
    _size_env(workdir)
    from simtradedata_spark.session import get_spark

    spark = get_spark("perfbench-selftest", cpus=CORES)
    sc = spark.sparkContext
    tr = Tracer()
    tr.attach(spark)
    try:
        _jobs(sc, 5)  # untagged history before the first span
        with tr.span("long") as long_:
            _jobs(sc, 150)  # more than retainedJobs
        with tr.span("outer") as outer:
            _jobs(sc, 30)
            with tr.span("inner") as inner:
                _jobs(sc, 40)
            _jobs(sc, 30)
        with tr.span("evicting") as evicting:
            _jobs(sc, 250)  # more than retainedStages before the span ends
    finally:
        _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    checks = [
        ("root holds untagged jobs plus its children", tr.spans[0]["jobs"] == 505),
        ("150 jobs counted past retainedJobs", long_["jobs"] == 150),
        ("150 stages read", long_["stages"] + long_["stages_unseen"] == 150),
        ("inner span counts only its own jobs", inner["jobs"] == 40),
        ("outer span includes its child", outer["jobs"] == 100),
        ("250 jobs counted", evicting["jobs"] == 250),
        ("every stage read or reported unseen",
         evicting["stages"] + evicting["stages_unseen"] == 250),
        ("evicted stages reported", evicting["stages_unseen"] >= 50),
    ]
    for name, ok in checks:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(ok for _, ok in checks) else 1


if __name__ == "__main__":
    sys.exit(main())
