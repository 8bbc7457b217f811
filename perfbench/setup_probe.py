"""One set-up sample: process start to the session's first job done.

Started by run.py in a fresh process with run.py's environment; prints
``{"setup_s": ...}`` and exits after stopping Spark and its JVM.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

if __name__ == "__main__":
    t_start = run.process_start_time()
    sys.path.insert(0, run.ROOT)
    import workloads  # noqa: F401  the same imports a benchmark run makes

    spark = run.start_session()
    setup_s = time.time() - t_start
    run.stop_session(spark)
    print(json.dumps({"setup_s": setup_s}))
