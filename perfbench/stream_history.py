#!/usr/bin/env python
"""Builds the persisted stream store that every ``write_paths`` run lands
its arrival on, and keeps it as a snapshot in the checkout's input cache.
``run.py`` starts it once per checkout, from the checkout's root:

    python3 perfbench/stream_history.py

It runs in a process of its own so that no timed run measures a JVM that
building the store has warmed.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    import harness
    import workloads

    harness.require_checkout(root)
    dirs = harness.scratch_env(root)
    spark = harness.start_session(root, dirs)
    try:
        workloads.build_history(spark, root)
    finally:
        harness.stop_session(spark)
    harness.wait_for_children()
    return 0


if __name__ == "__main__":
    sys.exit(main())
