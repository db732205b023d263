"""Spark job counts for a block of driver code.

Spark files every job submitted from a thread under that thread's job
group. ``counted`` runs an action under a group of its own and reads
the group's jobs from the status store. An action returns when its
last job completes, but the store behind ``getJobIdsForGroup`` is fed
by the asynchronous listener bus, so the read waits until the bus has
delivered every queued event; an immediate read can miss the action's
last jobs.

This is the one place in the package, ``bench.py`` and the tests that
sets a job group or reads one (``tests/test_job_group_readers.py``).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

# setJobGroup sets all three; leaving any behind would file the
# thread's later jobs under this group or its description
_GROUP_PROPERTIES = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def counted(spark: SparkSession, action: Callable[[], T]) -> tuple[T, int]:
    """``(action(), the number of Spark jobs it ran)``.

    The group is new on every call: the status store keeps a group's
    jobs after they finish, so a reused group id would add one call's
    jobs to the next. The drain runs after ``action`` returns, so a
    caller that times inside ``action`` does not time the drain.
    """
    sc = spark.sparkContext
    group = f"counted:{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        for prop in _GROUP_PROPERTIES:
            sc.setLocalProperty(prop, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
