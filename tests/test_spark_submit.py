"""North-rule execution constraint: the engine must run via
`spark-submit --py-files` (BASELINE.json). Packages the engine zip and
submits the real bench job against the 2k corpus cache on local[4]."""

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# whole-test bound: the packaging step and the submitted job share it
BOUND_S = 600


def test_spark_submit_py_files_runs_pipeline():
    deadline = time.monotonic() + BOUND_S
    sys.path.insert(0, REPO)
    from tools.build_dist import build

    zip_path = build()
    import pyspark

    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--master", "local[4]", "--driver-memory", "6g",
         "--py-files", zip_path,
         os.path.join(REPO, "bench", "run_bench.py"), "--rows", "2000"],
        capture_output=True, text=True, cwd=REPO,
        timeout=deadline - time.monotonic(),
        env={**os.environ,
             "MALLOC_MMAP_THRESHOLD_": "2147483648",
             "MALLOC_TRIM_THRESHOLD_": "2147483648"},
    )
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")]
    assert line, f"no JSON from spark-submit: {out.stdout[-400:]} {out.stderr[-400:]}"
    res = json.loads(line[-1])
    assert res["rows"] == 2000
    assert res["rate"] > 0
    assert set(res["stages"]) >= {
        "signatures_sec", "candidates_sec", "verified_sec", "clusters_sec"
    }
