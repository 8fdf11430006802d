"""Overlap independent driver legs on threads.

A leg is a zero-argument callable whose eager Spark jobs do not depend
on the other legs' results: the second leg's tasks back-fill executors
the first leg's stage tail frees. A plain ``ThreadPoolExecutor`` thread
starts with empty JVM local properties, so its jobs lose the caller's
job group, description and tags — bench attribution and job-group
cancellation both miss them. Each leg here runs under
``pyspark.util.inheritable_thread_target``, which copies the caller's
local properties and session tags into the leg's thread.
"""

from __future__ import annotations

import threading
from typing import Any, Callable

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target


def overlap(spark: SparkSession, *legs: Callable[[], Any]) -> list:
    """Run ``legs`` concurrently and return their results in order.

    Every leg runs to completion before this returns; if any raised,
    the first failing leg's exception (in argument order) is re-raised.
    """
    results: list = [None] * len(legs)
    errors: list = [None] * len(legs)

    def run(i: int) -> None:
        try:
            results[i] = legs[i]()
        except BaseException as e:  # re-raised on the caller's thread
            errors[i] = e

    target = inheritable_thread_target(spark)(run)
    threads = [
        threading.Thread(target=target, args=(i,), daemon=True)
        for i in range(len(legs))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
