"""One set-up sample in a fresh process: import, ``get_spark``, open and
count the input. Prints ``{"setup_s": ...}`` as its last line.

    python3 perfbench/setup_child.py --work DIR --input PATH
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402

import harness  # noqa: E402


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--work", required=True)
    p.add_argument("--input", required=True)
    args = p.parse_args()
    harness.prepare_env(args.work)
    spark, _ = harness.start_session()
    harness.open_and_count(spark, args.input)
    setup_s = time.perf_counter() - T0
    spark.stop()
    harness.stop_jvm()
    print(json.dumps({"setup_s": setup_s}), flush=True)


if __name__ == "__main__":
    main()
