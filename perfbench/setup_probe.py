"""One set-up sample in a fresh process: build the session, make one
Python worker round trip, print ``ready``, stop. The parent times from
launching this process to reading ``ready``.

    python3 perfbench/setup_probe.py
"""

from __future__ import annotations

import sys

import sparkhost


def main() -> None:
    sparkhost.prepare_env()
    spark = sparkhost.build("perfbench-setup")
    try:
        sparkhost.worker_round_trip(spark)
        print("ready", flush=True)
    finally:
        sparkhost.shutdown(spark)


if __name__ == "__main__":
    sys.exit(main())
