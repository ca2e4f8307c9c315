"""Streaming-throughput probe CLI: the reference's flagship modality
measured end-to-end (see
``spark_streaming_twitch_analytics_spark/streaming/probe.py`` for the
shared measurement core and the protocol notes).

Usage: python tools/stream_probe.py [sf_dir] [replicate] [n_files]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_twitch_analytics_spark.session import get_spark
from spark_streaming_twitch_analytics_spark.streaming.probe import (
    BENCH_N_FILES,
    BENCH_REPLICATE,
    measure_stream_throughput,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else BENCH_REPLICATE
    n_files = int(sys.argv[3]) if len(sys.argv) > 3 else BENCH_N_FILES

    spark = get_spark(app_name="stream_probe")
    try:
        r = measure_stream_throughput(spark, sf_dir, replicate, n_files)
        print(
            f"lines={r['lines']} files={r['files']} wall={r['wall_sec']}s "
            f"throughput={r['lines_per_sec']:,.0f} lines/s "
            f"distinct_words={r['distinct_words']}"
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
