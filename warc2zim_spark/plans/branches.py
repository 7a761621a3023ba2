"""Concurrent branches of one driver call, which fail as one: actions from
one thread run one after another, so both drivers overlap jobs through here."""

from __future__ import annotations

import threading
import uuid
from concurrent.futures import Future, ThreadPoolExecutor, wait
from contextlib import contextmanager

from pyspark import inheritable_thread_target


@contextmanager
def branches(spark):
    """``with branches(spark) as branch:`` — ``branch(fn, *args)`` runs
    ``fn(*args)`` on a pool thread and returns its future. Every job of the
    block, the calling thread's and each branch's, carries one job tag; a
    branch inherits the caller's job group, description and local
    properties. The first failure, on any thread, cancels the tag's other
    jobs; the block then waits for every branch and raises that error, not
    the cancellations it caused, so no job outlives the block."""
    sc = spark.sparkContext
    tag = f"branches-{uuid.uuid4().hex}"
    first: list[BaseException] = []
    lock = threading.Lock()
    futures: list[Future] = []

    def fail(exc: BaseException) -> None:
        with lock:
            if first:
                return
            first.append(exc)
        sc.cancelJobsWithTag(tag)

    def run(target, *args):
        try:
            return target(*args)
        except BaseException as exc:
            fail(exc)
            raise

    def branch(fn, *args) -> Future:
        futures.append(pool.submit(run, inheritable_thread_target(spark)(fn), *args))
        return futures[-1]

    sc.addJobTag(tag)
    pool = ThreadPoolExecutor()
    try:
        yield branch
    except BaseException as exc:
        fail(exc)
    finally:
        # a branch between two jobs at the first failure starts its next
        # one uncancelled, so cancel again until every branch has returned
        pending = futures
        while pending:
            if first:
                sc.cancelJobsWithTag(tag)
            pending = wait(pending, timeout=0.5).not_done
        pool.shutdown()
        sc.removeJobTag(tag)
    if first:
        raise first[0]
