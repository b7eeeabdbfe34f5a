"""The `replay_bulk` single-core side: a separate `local[1]` JVM that
replays the same feed as the parent, one replay per request.

Protocol (one JSON object per line): the child writes ``{"ready": true}``
after a warm-up replay of ``--warm-feed``; each ``run`` line on stdin triggers one timed
replay of ``--feed`` (which must exist by then), answered with ``{"secs", "events", "digest"}``; ``quit`` (or end
of input) stops Spark and exits. Started and stopped by `run.py`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import table_digest  # noqa: E402
from common import build_spark, replay_once, stop_spark, take_stdout  # noqa: E402
from image_deid_etl_spark.cdc.engine import open_table  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--feed", required=True)
    ap.add_argument("--warm-feed", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()
    out = take_stdout()

    def send(obj: dict) -> None:
        out.write(json.dumps(obj) + "\n")
        out.flush()

    spark = build_spark(cpus=1)
    try:
        replay_once(spark, os.path.join(args.work, "warm"), args.warm_feed)
        shutil.rmtree(os.path.join(args.work, "warm"), ignore_errors=True)
        send({"ready": True})
        n = 0
        for line in sys.stdin:
            if line.strip() != "run":
                break
            root = os.path.join(args.work, f"t{n}")
            t0 = time.perf_counter()
            stats = replay_once(spark, root, args.feed)
            secs = time.perf_counter() - t0
            send({"secs": secs, "events": stats.events,
                  "digest": table_digest(spark, open_table(root))})
            shutil.rmtree(root, ignore_errors=True)
            n += 1
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
