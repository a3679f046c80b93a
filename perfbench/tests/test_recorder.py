"""The warm-up sends requests from several threads into one Recorder; no
request, sample or failure may be lost."""

from __future__ import annotations

import sys
import threading
from pathlib import Path
from types import SimpleNamespace

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from harness import Recorder  # noqa: E402


def test_concurrent_requests_are_all_counted():
    rec = Recorder(SimpleNamespace(sparkContext=None), trace=False)
    threads, per_thread = 16, 300

    def fail_every_third(i: int) -> int:
        if i % 3 == 0:
            raise ValueError(i if i % 2 else "")  # also a message-less error
        return i

    def client() -> None:
        for i in range(per_thread):
            rec.request("call", lambda i=i: fail_every_third(i))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        workers = [threading.Thread(target=client) for _ in range(threads)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
        assert not any(w.is_alive() for w in workers)
    finally:
        sys.setswitchinterval(switch)
    failing = threads * len(range(0, per_thread, 3))
    assert rec.attempted == threads * per_thread
    assert rec.failed == failing == len(rec.failures)
    assert len(rec.samples) == threads * per_thread - failing


def test_check_counts_a_mismatch_and_a_poisoned_expectation():
    rec = Recorder(SimpleNamespace(sparkContext=None), trace=False, poison="b")
    assert rec.check("a", 1, 1)
    assert not rec.check("a", 1, 2)
    assert not rec.check("b", 1, 1)  # deliberately wrong, once
    assert rec.check("b", 1, 1)
    assert rec.failed == 2
