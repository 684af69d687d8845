"""Planning-time cost of parquet-footer zone maps, cold and warm.

Usage:
    python tools/footer_cost.py [--latency-ms 20] [--files 24,256,2400]

Writes small parquet files (32 rows, like the benchmark lake's) to a
temporary directory and times ``skipping.FooterMemo.stats`` over them
with an empty memo (cold), then until every footer is held (a call
reads at most ``FooterMemo.READS_PER_CALL``), then once more (warm):

* ``local``: the files by their local paths, read serially;
* ``s3``: the same bytes as ``s3://`` objects behind an in-memory
  client that sleeps ``--latency-ms`` before answering each GET, the
  way a remote object store's first-byte latency would.

One JSON line per (store, file count) on stdout: cold seconds, warm
milliseconds, footers read cold, the further calls it took to read
them all, GETs made cold and warm, and the per-call read cap.  No
network and no Spark are used.
"""

from __future__ import annotations

import argparse
import io
import json
import sys
import tempfile
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from glue_table_cache_spark.skipping import FooterMemo  # noqa: E402


class LatencyS3:
    """``get_object`` with S3's ranged forms over an in-memory key map,
    each call held ``latency_s`` first."""

    def __init__(self, objects: dict[str, bytes], latency_s: float):
        self._objects = objects
        self._latency_s = latency_s
        self._lock = threading.Lock()
        self.gets = 0

    def get_object(self, Bucket, Key, Range=None):
        time.sleep(self._latency_s)
        with self._lock:
            self.gets += 1
        data = self._objects[Key]
        if Range is not None:
            lo, hi = Range.removeprefix("bytes=").split("-")
            data = data[int(lo) : int(hi) + 1] if lo else data[-int(hi) :]
        return {"Body": io.BytesIO(data)}


def _files(root: Path, n: int) -> list[str]:
    paths = []
    for i in range(n):
        ids = pa.array(range(i * 32, (i + 1) * 32), pa.int64())
        path = root / f"part-{i:05d}.parquet"
        pq.write_table(pa.table({"id": ids, "v": ids}), path)
        paths.append(str(path))
    return paths


def _time(memo: FooterMemo, paths: list[str]) -> tuple[float, int]:
    t0 = time.perf_counter()
    stats = memo.stats(paths)
    return time.perf_counter() - t0, sum(s is not None for s in stats)


def _fill(memo: FooterMemo, paths: list[str], held: int) -> int:
    """Further calls until every footer is held (each reads at most
    ``READS_PER_CALL``), or until a call holds no more than the one
    before it (an unreadable footer is never held); returns their
    number."""
    calls = 0
    while held < len(paths):
        now = _time(memo, paths)[1]
        calls += 1
        if now <= held:
            break
        held = now
    return calls


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--latency-ms", type=float, default=20.0)
    ap.add_argument("--files", default="24,256,2400")
    args = ap.parse_args()
    for n in (int(x) for x in args.files.split(",")):
        with tempfile.TemporaryDirectory() as tmp:
            local = _files(Path(tmp), n)
            client = LatencyS3(
                {Path(p).name: Path(p).read_bytes() for p in local},
                args.latency_ms / 1000,
            )
            remote = [f"s3://bench/{Path(p).name}" for p in local]
            for store, paths, memo in (
                ("local", local, FooterMemo()),
                ("s3", remote, FooterMemo(client)),
            ):
                before = client.gets
                cold_s, read = _time(memo, paths)
                gets = client.gets - before
                fill_calls = _fill(memo, paths, read)
                before = client.gets
                warm_s, _ = _time(memo, paths)
                print(json.dumps({
                    "store": store,
                    "files": n,
                    "latency_ms": args.latency_ms if store == "s3" else 0,
                    "cold_s": round(cold_s, 4),
                    "warm_ms": round(warm_s * 1000, 3),
                    "footers_read_cold": read,
                    "gets_cold": gets,
                    "more_calls_to_fill": fill_calls,
                    "gets_warm": client.gets - before,
                    "reads_per_call": FooterMemo.READS_PER_CALL,
                }), flush=True)


if __name__ == "__main__":
    main()
