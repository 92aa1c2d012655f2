"""The closed loop: failed ops are counted, an overrunning op is
cancelled and ends the loop, and a failed whole-run check fails the last
op."""

import threading

import run
import workloads


class _Fake(workloads.Workload):
    def __init__(self, behaviour):
        self.behaviour = behaviour
        self.cancelled = threading.Event()

    def more(self, i, now, deadline):
        return i < len(self.behaviour)

    def cancel(self, ctx):
        self.cancelled.set()

    def op(self, ctx, i):
        kind = self.behaviour[i]
        if kind == "raise":
            raise RuntimeError("op failed")
        if kind == "hang":
            self.cancelled.wait(10)   # returns once cancelled
        return workloads.Op(0.0, 1, True)


def test_raising_op_fails_and_loop_goes_on():
    ops = run._loop(_Fake(["ok", "raise", "ok"]), None, 60)
    assert [o.ok for o in ops] == [True, False, True]


def test_overrunning_op_is_cancelled_and_ends_loop(monkeypatch):
    monkeypatch.setattr(run, "OP_TIMEOUT_S", 0.2)
    wl = _Fake(["ok", "hang", "ok"])
    ops = run._loop(wl, None, 60)
    assert wl.cancelled.is_set()
    assert [o.ok for o in ops] == [True, False]
    assert ops[1].detail["timed_out"]


def test_failed_whole_run_check_fails_last_op():
    class _Unfinished(_Fake):
        def finish(self, ctx):
            raise RuntimeError("check failed")

    wl = _Unfinished(["ok", "ok"])
    ops = run._loop(wl, None, 60)
    run._finish(wl, None, ops)
    assert [o.ok for o in ops] == [True, False]
