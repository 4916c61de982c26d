"""Self-test of the benchmark's own helpers at tiny sizes; no Spark.

    python3 perfbench/selftest.py

Covers the tail-percentile rule, the open-loop producer's lateness
accounting, the window exactly-once check and the oracle comparison
(which must catch a planted mismatch). Exits non-zero on the first
failure.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import common  # noqa: E402
from producer import open_loop  # noqa: E402


def test_tail_rule():
    # 31 samples: index 20 has exactly 10 samples above it
    xs = list(range(1, 32))
    value, pct = common.tail(xs)
    assert value == 21 and abs(pct - 100 * 21 / 31) < 1e-9, (value, pct)
    assert sum(x > value for x in xs) == 10
    # fewer than 21 samples: no tail beyond the median, report the max
    assert common.tail(list(range(20))) == (19.0, 100.0)
    assert common.tail([]) == (0.0, 0.0)
    assert common.percentile([5, 1, 3, 2, 4], 50) == 3.0
    assert common.percentile(list(range(1, 101)), 99) == 99.0


class FakeClock:
    """A clock whose sleep advances time; ``stall`` adds a one-off delay
    inside the send of item ``stall_at``."""

    def __init__(self, t0=100.0, stall_at=None, stall=0.0):
        self.t = t0
        self.stall_at, self.stall = stall_at, stall

    def clock(self):
        return self.t

    def sleep(self, dt):
        self.t += dt

    def send(self, i, due):
        assert self.t >= due, "sent early"
        self.t += 0.0001
        if i == self.stall_at:
            self.t += self.stall


def test_open_loop_on_schedule():
    c = FakeClock()
    late = open_loop(50, 100.0, 100.0, c.send, clock=c.clock, sleep=c.sleep, idle=0.0005)
    assert len(late) == 50
    assert max(late) < 0.001, max(late)


def test_open_loop_stall_is_counted_not_absorbed():
    # a 0.1 s stall while sending item 10 at 100 items/s: the next items
    # are sent late back to back, the schedule itself does not move
    c = FakeClock(stall_at=10, stall=0.1)
    late = open_loop(50, 100.0, 100.0, c.send, clock=c.clock, sleep=c.sleep, idle=0.0005)
    assert late[10] < 0.001
    assert abs(late[11] - 0.0901) < 0.002, late[11]
    assert late[12] > late[13] > 0, late[12:14]
    assert max(late[30:]) < 0.001
    assert abs(c.t - (100.0 + 49 / 100.0)) < 0.01


def test_window_check():
    import window_stream

    size = 3
    ok = [(0, 0, [0, 1, 2]), (0, 0, [5, 3, 4])]
    assert window_stream._check(ok, 6, size)[:2] == (2, 0)
    dup = [(0, 0, [0, 1, 2]), (0, 0, [2, 3, 4])]
    assert window_stream._check(dup, 6, size)[1] == 1
    missing = [(0, 0, [0, 1, 2])]
    assert window_stream._check(missing, 6, size)[1] == 1


def test_oracle_comparison_catches_planted_mismatch():
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    got = want.iloc[::-1].reset_index(drop=True)  # order must not matter
    assert common.frames_mismatch(got, want, "q") is None
    planted = got.copy()
    planted.loc[1, "v"] = 1.5000001
    assert common.frames_mismatch(planted, want, "q") is not None
    assert common.frames_mismatch(got.iloc[:2], want, "q") is not None
    assert common.frames_mismatch(got.rename(columns={"v": "w"}), want, "q") is not None


def main() -> int:
    tests = [(n, f) for n, f in sorted(globals().items()) if n.startswith("test_")]
    for name, fn in tests:
        fn()
        print(f"ok {name}")
    print(f"{len(tests)} passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
