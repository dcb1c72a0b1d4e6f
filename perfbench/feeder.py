"""Open-loop file feed for stream_ingest (standard library only).

Moves pre-generated files from a staging directory into the feed directory
one per ``--interval`` seconds, on a fixed schedule that does not wait for
the consumer, and logs each file's due and landing times (wall clock) as
one JSON line.

    python3 feeder.py --staging DIR --feed DIR --interval 0.1 --log FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--staging", required=True)
    ap.add_argument("--feed", required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args()

    names = sorted(os.listdir(args.staging))
    start = time.time() + args.interval
    with open(args.log, "w") as log:
        for i, name in enumerate(names):
            due = start + i * args.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.replace(os.path.join(args.staging, name), os.path.join(args.feed, name))
            landed = time.time()
            log.write(json.dumps({"file": name, "due": due, "landed": landed}) + "\n")
            log.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
