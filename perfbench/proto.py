"""The channel between the benchmark and its child processes.

A child writes JSON messages to its stdout as lines starting with
``@@``; everything else it (or the engine) prints goes to stderr.
"""
from __future__ import annotations

import json
import os
import sys
import time

# A run with several measured phases starts the next one only if this
# multiple of its longest phase so far still fits in the run's time.
PHASE_SLACK = 1.3


class Channel:
    def __init__(self) -> None:
        # keep the real stdout for messages, route prints to stderr
        self._out = os.fdopen(os.dup(1), "w", buffering=1)
        sys.stdout = sys.stderr

    def send(self, obj) -> None:
        self._out.write("@@" + json.dumps(obj) + "\n")


def wait_for(path: str, timeout: float = 120.0) -> None:
    """Wait for a file the benchmark writes when the inputs are ready."""
    deadline = time.monotonic() + timeout
    while not os.path.exists(path):
        if time.monotonic() > deadline:
            raise TimeoutError(f"{path} did not appear")
        time.sleep(0.05)
