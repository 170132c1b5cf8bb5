"""One set-up sample: a fresh interpreter creates the engine's
SparkSession and runs a first job (``helpers.start_session``), prints
the seconds since the process started, and stops the session. Run by
``run.py``."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

if __name__ == "__main__":
    from helpers import start_session, stop_spark

    spark, age = start_session("perfbench-probe")
    print(f"ready {age:.6f}", flush=True)
    stop_spark(spark)
