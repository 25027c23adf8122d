"""tools/check_correctness.sweep_lock: one sweep of a checkout at a
time. A second holder says one line and waits for the first."""

from __future__ import annotations

import threading
import time

from tools.check_correctness import sweep_lock


def test_uncontended_lock_says_nothing(tmp_path_repo):
    said: list[str] = []
    with sweep_lock(str(tmp_path_repo / "a" / ".sweep.lock"), said.append):
        pass
    assert said == []


def test_second_sweep_waits_for_the_first(tmp_path_repo):
    path = str(tmp_path_repo / ".sweep.lock")
    said: list[str] = []
    entered = threading.Event()

    def second():
        with sweep_lock(path, said.append):
            entered.set()

    with sweep_lock(path, said.append):
        t = threading.Thread(target=second, daemon=True)
        t.start()
        deadline = time.monotonic() + 10
        while not said and time.monotonic() < deadline:
            time.sleep(0.01)
        assert len(said) == 1 and "waiting" in said[0], said
        assert not entered.wait(0.3)  # still blocked while the first holds
    assert entered.wait(10)
    t.join(10)
    assert len(said) == 1
