"""Open-loop load generator for the stream workload: one single-threaded
process that lands seeded JSONL event files on a fixed schedule.

File ``i`` is due at ``t0 + i / rate`` (wall clock, ``time.time()``)
whatever the consumer does: the generator never waits on the stream,
and when a write runs late it lands the next files at once instead of
shifting the schedule. Each file's due and landing times go to a JSON
manifest, so latency is measured from when a file was due and the
generator's own lateness is reported.

    python3 perfbench/loadgen.py --src DIR --manifest FILE --seed N \
        --rate FILES_PER_S --files N --events PER_FILE --first-id ID --t0 EPOCH_S
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen  # noqa: E402


def due_times(t0: float, rate: float, n: int) -> list[float]:
    return [t0 + i / rate for i in range(n)]


def land(due, write, clock=time.time, sleep=time.sleep) -> list[float]:
    """Call ``write(i)`` for each schedule slot, no earlier than
    ``due[i]``; return the landing time of each. Open loop: a late
    write delays nothing but itself and the files already due."""
    landed = []
    for i, t_due in enumerate(due):
        wait = t_due - clock()
        if wait > 0:
            sleep(wait)
        write(i)
        landed.append(clock())
    return landed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--src", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--events", type=int, required=True)
    ap.add_argument("--first-id", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args(argv)
    # render every payload before the clock starts: formatting must
    # not add jitter to the landing times
    payloads = [
        datagen.event_jsonl(a.seed, a.first_id + i * a.events, a.events)
        for i in range(a.files)
    ]
    due = due_times(a.t0, a.rate, a.files)
    landed = land(
        due,
        lambda i: datagen.write_event_file(a.src, i, payloads[i]),
    )
    with open(a.manifest, "w") as f:
        json.dump({"due": due, "landed": landed}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
