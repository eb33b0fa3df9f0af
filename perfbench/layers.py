"""Per-layer metrics of a traced run, named ``<module>.<metric>``.

Layers are the engine's modules, measured from outside: the spans around
each public call, the ``stage_seconds`` the index build returns, bytes on
disk, and Spark's per-job metrics charged to each span (spans.py). A layer
a workload does not exercise reads 0.

Which end-to-end metric each layer should move, and where (written down
before measuring; a gain claimed on a layer should show there):

  session.start_s                             setup_s: both
  api.index.docs_per_s, sources.wet.*,        none: the base build is
  operators.signatures.*, operators.          cached per checkout and only
  postings.{staging,term_stats,encode}_s,     traced runs rebuild it
  spark.index.*
  operators.postings.{delete,merge}_s,        delete_merge_s: both
  spark.{delete,merge}.*
  operators.postings.append_s, spark.append.* none; traced update runs only
  *.bytes_on_disk, *.files_on_disk            index_bytes_per_text_byte:
                                              both, after the merge
  operators.bm25.open_index_cold_s            query_p50_s on update (first
                                              read after each write)
  operators.bm25.batch_call_s,                batch_queries_per_s: both
  spark.batch.*
  api.search.*, spark.search*.{jobs,stages,   query_p50_s and queries_per_s:
  tasks,driver_s}                             serve
  host.peak_rss_mb                            none (JVM heap growth follows
                                              GC timing)
  host.control_s, host.loadavg_1m             none: ambient host load, to
                                              judge whether runs compare

sources.wet.task_s and operators.signatures.task_s are the Python worker
seconds (summed over tasks) of the extraction UDF and the signature
mapInArrow nodes alone, during the base build, read from each node's own
SQL metric (spans.KERNELS); the build runs extraction once per job that
reads its pages, and every run counts.
"""

from __future__ import annotations

import statistics

from perfbench.inputs import live_pages
from perfbench.spans import SPARK_FIELDS

OP_KINDS = ("index", "append", "delete", "merge", "batch", "search.bm25",
            "search.hybrid", "search.hamming", "search_phrase",
            "search_boolean")
ARTIFACTS = (("postings", "operators.postings"),
             ("term_stats", "operators.postings.term_stats"),
             ("signatures", "operators.signatures"),
             ("docmap", "api.docmap"))

# (name, unit)
NAMES = [
    ("session.start_s", "s"),
    ("api.index.docs_per_s", "1/s"),
    ("sources.wet.rows_in", "count"),
    ("sources.wet.rows_out", "count"),
    ("sources.wet.task_s", "s"),
    ("operators.signatures.task_s", "s"),
    ("operators.postings.staging_s", "s"),
    ("operators.postings.term_stats_s", "s"),
    ("operators.postings.encode_s", "s"),
    ("operators.postings.append_s", "s"),
    ("operators.postings.delete_s", "s"),
    ("operators.postings.merge_s", "s"),
    *[(f"{p}.bytes_on_disk", "bytes") for _, p in ARTIFACTS],
    ("operators.postings.files_on_disk", "count"),
    ("operators.bm25.open_index_cold_s", "s"),
    ("operators.bm25.batch_call_s", "s"),
    ("api.search.queries_per_s", "1/s"),
    ("api.search.bm25.p50_s", "s"),
    ("api.search.hybrid.p50_s", "s"),
    ("api.search.hamming.p50_s", "s"),
    ("api.search_phrase.p50_s", "s"),
    ("api.search_boolean.p50_s", "s"),
    ("host.control_s", "s"),
    ("host.loadavg_1m", "load"),
    ("host.peak_rss_mb", "MB"),
    *[(f"spark.{op}.{f}", "count" if f in ("jobs", "stages", "tasks")
       else "bytes" if f.endswith("_bytes") else "s")
      for op in OP_KINDS for f in SPARK_FIELDS],
]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def cold_open_s(ops, writes=("index", "append", "delete", "merge")) -> float:
    """Median over writes of (the first index-reading call after the write
    - the median latency of later calls of its kind). Every facade kind but
    hamming opens the bm25 index, and a write invalidates the open handle."""
    reads = ("search.bm25", "search.hybrid", "search_phrase", "search_boolean")
    first, later, after_write = [], {}, False
    for op in ops:
        if op.kind in writes:
            after_write = True
        elif op.kind in reads:
            if after_write:
                first.append(op)
            else:
                later.setdefault(op.kind, []).append(op.seconds)
            after_write = False
    deltas = [op.seconds - statistics.median(later[op.kind])
              for op in first if later.get(op.kind)]
    return statistics.median(deltas) if deltas else 0.0


def per_layer(run, session_s, disk, host, spark_spans, kernels):
    """host: {"control_s", "loadavg", "peak_mb"}; kernels: spans'
    {layer: seconds} (spans.spark_per_span)."""
    ops = run.ops
    stage = (run.index_info or {}).get("stage_seconds", {})
    index_s = next(o.seconds for o in ops if o.kind == "index")
    # per-call latencies leave the setup warm-up calls out
    secs = lambda kind: [o.seconds for o in ops  # noqa: E731
                         if o.kind == kind and o.stage != "setup"]
    build = [kernels.get(o.span, {}) for o in ops if o.kind == "index"]
    facade = [o.seconds for o in ops if o.stage == "timed" and o.kind.startswith("search")]
    out = {
        "session.start_s": session_s,
        "api.index.docs_per_s": len(live_pages(run.inputs.pages)) / index_s,
        "sources.wet.rows_in": run.wet.get("rows_in", 0),
        "sources.wet.rows_out": run.wet.get("rows_out", 0),
        "sources.wet.task_s": sum(k.get("sources.wet", 0.0) for k in build),
        "operators.signatures.task_s": sum(k.get("operators.signatures", 0.0)
                                           for k in build),
        "operators.postings.staging_s": stage.get("staging", 0.0),
        "operators.postings.term_stats_s": stage.get("term_stats", 0.0),
        "operators.postings.encode_s": stage.get("encode", 0.0),
        "operators.postings.append_s": sum(secs("append")),
        "operators.postings.delete_s": sum(secs("delete")),
        "operators.postings.merge_s": sum(secs("merge")),
        "operators.bm25.open_index_cold_s": cold_open_s(ops),
        "operators.bm25.batch_call_s": _median(secs("batch")),
        "api.search.queries_per_s": len(facade) / sum(facade) if facade else 0.0,
        "api.search.bm25.p50_s": _median(secs("search.bm25")),
        "api.search.hybrid.p50_s": _median(secs("search.hybrid")),
        "api.search.hamming.p50_s": _median(secs("search.hamming")),
        "api.search_phrase.p50_s": _median(secs("search_phrase")),
        "api.search_boolean.p50_s": _median(secs("search_boolean")),
        "host.control_s": host["control_s"],
        "host.loadavg_1m": host["loadavg"],
        "host.peak_rss_mb": host["peak_mb"],
        "operators.postings.files_on_disk": disk.get("postings", (0, 0))[1],
    }
    for art, prefix in ARTIFACTS:
        out[f"{prefix}.bytes_on_disk"] = disk.get(art, (0, 0))[0]
    for kind in OP_KINDS:
        calls = [spark_spans.get(o.span, {}) for o in ops if o.kind == kind]
        for f in SPARK_FIELDS:
            out[f"spark.{kind}.{f}"] = _median([c.get(f, 0.0) for c in calls])
    return out


def bottlenecks(run, spark_spans) -> list[str]:
    """Per op kind: the layer with the largest self time per call. The
    span's wall time splits into driver time (no stage running: planning,
    listing, footer reads, collects, driver Python) and stage time; stage
    time splits between JVM and Python workers by their share of executor
    run time (Python share = the Arrow boundary plus the Python kernels)."""
    lines = []
    for kind in OP_KINDS:
        calls = [(o, spark_spans.get(o.span)) for o in run.ops if o.kind == kind]
        calls = [(o, c) for o, c in calls if c]
        if not calls:
            continue
        layers = {"spark.driver": [], "executor.jvm": [], "executor.python": []}
        for o, c in calls:
            run_s = c["executor_run_s"]
            py = min(1.0, c["python_s"] / run_s) if run_s > 0 else 0.0
            layers["spark.driver"].append(c["driver_s"])
            layers["executor.jvm"].append(c["stage_wall_s"] * (1.0 - py))
            layers["executor.python"].append(c["stage_wall_s"] * py)
        med = {k: statistics.median(v) for k, v in layers.items()}
        top = max(med, key=med.get)
        wall = statistics.median(o.seconds for o, _ in calls)
        parts = ", ".join(f"{k} {v:.3f}s" for k, v in med.items())
        extra = ""
        if kind == "index" and run.index_info:
            extra = f"; index stage_seconds {run.index_info.get('stage_seconds')}"
        lines.append(f"bottleneck {kind}: {top} ({parts}; wall {wall:.3f}s, "
                     f"{len(calls)} calls{extra})")
    return lines
