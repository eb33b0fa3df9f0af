"""Host probes: a no-Spark kernel control, load average, peak memory and
bytes on disk."""

from __future__ import annotations

import os
import statistics
import time
from pathlib import Path

import pandas as pd


class Control:
    """The staging tokenize kernel (postings.tokenize_batch_kernel, the code
    the index build runs inside Spark) timed in this process on a fixed
    input. Ambient host load moves it; no change to the engine's Spark
    plans can. Compare runs only when their control times agree."""

    def __init__(self, texts: list[str], terms: list[str]):
        self.pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        self.index = pd.Index(terms)

    def seconds(self, reps: int = 5) -> float:
        from pears_fruit_fly_spark.operators.postings import tokenize_batch_kernel

        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            tokenize_batch_kernel(self.pdf, self.index)
            times.append(time.perf_counter() - t0)
        return statistics.median(times)


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def disk_usage(engine_dir: str) -> dict[str, tuple[int, int]]:
    """{artifact: (bytes, files)} for everything under the engine directory.
    postings and term_stats are the index tables (base, segments, every
    version on disk); index_other is the rest of the index root (staging
    leftovers, manifests, tombstones); signatures and docmap are the
    facade's tables."""
    out = {k: [0, 0] for k in ("postings", "term_stats", "index_other",
                               "signatures", "docmap")}
    root = Path(engine_dir)
    for path in root.rglob("*"):
        if not path.is_file():
            continue
        parts = path.relative_to(root).parts
        if parts[0] == "index":
            key = ("postings" if "postings" in parts
                   else "term_stats" if "term_stats" in parts
                   else "index_other")
        elif parts[0] in out:
            key = parts[0]
        else:
            key = "index_other"
        out[key][0] += path.stat().st_size
        out[key][1] += 1
    return {k: (v[0], v[1]) for k, v in out.items()}
