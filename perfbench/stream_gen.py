"""Open-loop ping generator for the ``stream`` workload.

Runs as its own process.  It pre-serializes a pool of seeded ping
templates, then drops one JSON-lines file per tick into ``--out`` on a
fixed schedule of (rate, seconds) phases, whether or not the engine
keeps up.  Each ping's ``meta.Timestamp`` is its file's scheduled
write time.  Files are written under a hidden name and renamed into
place, so the file source never sees a partial file.  At the end it
writes one JSON log: per file its name, row count, scheduled and
actual write time (epoch seconds).

    python3 perfbench/stream_gen.py --out DIR --log FILE --seed N \
        --start EPOCH --tick 0.5 --schedule 2000:6,4000:3
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

POOL = 4096
STAMP = "__TS__"


def templates(seed: int) -> list[tuple[str, str]]:
    """Serialized pings split around the Timestamp value."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from pings import make_pings

    pings, _ = make_pings(seed, POOL)
    out = []
    for p in pings:
        p["meta"]["Timestamp"] = STAMP
        head, tail = json.dumps(p, separators=(",", ":")).split(f'"{STAMP}"')
        out.append((head, tail))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch seconds of tick 0")
    ap.add_argument("--tick", type=float, default=0.5)
    ap.add_argument("--schedule", required=True, help="rate:seconds,...")
    args = ap.parse_args(argv)

    pool = templates(args.seed)
    plan = []  # (due epoch, rows, rate)
    t = args.start
    for phase in args.schedule.split(","):
        rate, secs = (float(x) for x in phase.split(":"))
        for _ in range(round(secs / args.tick)):
            plan.append((t, int(rate * args.tick), int(rate)))
            t += args.tick

    log = []
    k = 0
    for i, (due, rows, rate) in enumerate(plan):
        ts = str(int(due * 1e9))
        body = []
        for _ in range(rows):
            head, tail = pool[k % POOL]
            body.append(head + ts + tail)
            k += 1
        data = ("\n".join(body) + "\n").encode()
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"f{i:05d}.json"
        tmp = os.path.join(args.out, "." + name)
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.rename(tmp, os.path.join(args.out, name))
        log.append({"name": name, "rows": rows, "rate": rate, "due": due, "written": time.time()})

    tmp = args.log + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(log, fh)
    os.rename(tmp, args.log)
    return 0


if __name__ == "__main__":
    sys.exit(main())
