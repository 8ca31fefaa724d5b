"""Single-threaded baseline for the traced run: times the shipper kernel
(``batch_kernel(fan_out=True)`` into ``write.format("noop")``) on
``local[1]`` in a JVM of its own.

    python3 perfbench/kernel1.py <events dir> <scratch dir>

Prints {"kernel_s": <seconds of the second of two passes>} as its
last line. Run by layers.py; the parent's session stays untouched.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402
from run import DRIVER_MEMORY  # noqa: E402


def main(path: str, work: str) -> None:
    harness.configure_env(work, 1, DRIVER_MEMORY)
    try:
        from cloudwatch_sematext_aws_lambda_log_shipper_spark.pipeline import (
            batch_kernel,
            read_kinesis_event_file,
        )
        from cloudwatch_sematext_aws_lambda_log_shipper_spark.session import get_spark

        spark = get_spark("perfbench-1core", master="local[1]")
        times = []
        for _ in range(2):  # the first pass compiles; the second counts
            t0 = time.perf_counter()
            batch_kernel(read_kinesis_event_file(spark, path), observe=False,
                         fan_out=True).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"kernel_s": times[-1]}))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
