"""Open-loop changelog writer for the ``replicate`` workload.

Runs as its own process so that a slow stream cannot slow the schedule.
It publishes the records of SRC from offset SKIP on, RECORDS_PER_S a
second in FILES_PER_S files a second, for SECONDS. File ``i`` is due at
``start + i / FILES_PER_S``, where ``start`` is taken once SRC is loaded; it
is written to a staging directory ahead of time and renamed into the landing
directory when due (an atomic publish on one file system). After the last
file it writes one JSON stamp record per file: index, first offset, record
count, due time and publish time.

    python3 perfbench/writer.py SRC LANDING STAGING STAMPS SKIP SECONDS \
        RECORDS_PER_S FILES_PER_S
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow.parquet as pq


def write_part(table, path: str) -> None:
    """One changelog file. Timestamps are written as microseconds: Spark's
    INT96 column comes back from pyarrow as nanoseconds, which Spark's
    parquet reader does not accept."""
    pq.write_table(table, path, coerce_timestamps="us")


def main(argv: list[str]) -> None:
    src, landing, staging, stamps_path = argv[:4]
    skip = int(argv[4])
    seconds, rate, fps = (float(x) for x in argv[5:8])
    table = pq.read_table(src).sort_by("offset").slice(skip)
    per_file = int(rate / fps)
    n_files = min(int(seconds * fps), table.num_rows // per_file)
    stamps = []
    start = time.time() + 0.25
    for i in range(n_files):
        chunk = table.slice(i * per_file, per_file)
        due = start + i / fps
        staged = os.path.join(staging, f"part-{i:05d}.parquet")
        write_part(chunk, staged)
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(staged, os.path.join(landing, f"part-{i:05d}.parquet"))
        stamps.append({"file": i, "first_offset": skip + i * per_file, "records": per_file,
                       "due": due, "published": time.time()})
    tmp = stamps_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stamps, f)
    os.replace(tmp, stamps_path)


if __name__ == "__main__":
    main(sys.argv[1:])
