"""The two workloads and the correctness gate that follows them.

One process, one ``local[4]`` session, one closed-loop client: each call is
issued only after the previous one has returned and its result has been
collected. Every call runs inside a span (spans.Recorder) and is recorded
as an Op; the gate later checks each Op's result.

Each op belongs to a stage: "setup" ops (the base build, warm-up calls)
count in setup_s, "timed" ops feed the other end-to-end metrics, "gate"
ops are the correctness gate's extra phrase and boolean queries (GATE_* in
inputs.py), which no metric times, and "extra" ops run in traced runs only
and feed per-layer metrics alone.

Setup opens a copy of the base index: a positional index of the fixed
crawl, built from raw rows and cached per checkout (run.py builds the cache
in a separate process before a run's session starts, so setup_s never
includes it). A traced run always builds it again, so the build layers are
measured.

Both workloads delete 1% of the urls and merge, timed together as
delete_merge_s, so a change to the write path shows on every workload.

serve   read path. Setup also warms the index with a bm25 search and a
        phrase search.
        Timed: facade calls in whole seeded blocks of ten (bm25 x6, hybrid,
        hamming, phrase, boolean) until --seconds have passed, then
        BATCH_CALLS["serve"] calls of bm25_topk_wand_batch (the first one
        is cold; batch_queries_per_s takes the median), then the delete
        and the merge.
update  reads beside writes, on a cold session (no warm-up). Timed:
        delete, a bm25 search, merge,
        SEARCHES_AFTER["merge"] searches (the first after each write opens
        the index cold) and batch calls on the merged index. One fixed
        cycle; its length is set by the writes, not by --seconds. Then the
        gate's extra queries. A traced run then appends 10% new pages and
        searches the merged-on-read view as extra ops; untraced runs leave
        the append out because one append takes about as long as the rest
        of the cycle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import gate
from perfbench.inputs import Inputs, expected_text, live_pages

# bm25 searches after each write of update: the first is a cold index open,
# the second after merge is the warm reference for operators.bm25.open_index_cold_s
SEARCHES_AFTER = {"append": 1, "delete": 1, "merge": 5}
BATCH_CALLS = {"serve": 4, "update": 5}
POSTINGS_PARTITIONS = 8  # term buckets: 2 x local[4], the shuffle width
HYBRID_PREFILTER_K = 1000  # SearchEngine.search default


@dataclass
class Op:
    kind: str
    span: str
    seconds: float
    text: str | None = None
    phase: str = ""
    rows: list | None = None
    error: str | None = None
    request: int = 0
    stage: str = "timed"  # "setup", "timed", "gate" or "extra" (module doc)


@dataclass
class Run:
    spark: object
    rec: object
    inputs: Inputs
    engine_dir: str
    cache_dir: Path  # the base index built from the fixed corpus
    raw: dict  # "base"/"new" -> raw crawl DataFrame (no text column)
    ops: list[Op] = field(default_factory=list)
    index_info: dict = field(default_factory=dict)
    disk_after_build: dict = field(default_factory=dict)
    disk_end: dict = field(default_factory=dict)  # after the timed ops
    setup_end: float = 0.0  # perf_counter when the setup ops finished
    wet: dict = field(default_factory=dict)
    failures: list[str] = field(default_factory=list)
    gate_checks: list[tuple[str, str | None]] = field(default_factory=list)
    engine: object = None

    @property
    def base_docmap(self) -> str:
        return self.engine_dir + ".docmap0"

    def ran(self, kind: str) -> bool:
        return any(o.kind == kind for o in self.ops)

    # -- calls ------------------------------------------------------------
    def call(self, kind, fn, text=None, phase="", stage="timed"):
        """Run fn inside a span; keep its collected rows for the gate."""
        req = len(self.ops)
        rows, error = None, None
        with self.rec.span(kind, kind, req):
            try:
                rows = fn()
            except Exception as e:  # a failed op is counted, not fatal
                error = f"{type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
        span = self.rec.spans[-1]
        op = Op(kind, span.id, span.seconds, text, phase, rows, error, req,
                stage)
        self.ops.append(op)
        return op

    def pages_df(self, which: str):
        from pears_fruit_fly_spark.sources.wet import extract_pages, ingest_filter

        return ingest_filter(extract_pages(self.raw[which]))

    def ingest(self, build: bool) -> None:
        """Open the engine on a copy of the cached base index; build it
        from the raw crawl (and fill the cache if it is empty) when
        ``build`` is set or no cache exists. The cache key (run.py) covers
        the engine's and the benchmark's source and the Spark version, so a
        changed engine never reads an index an older one wrote."""
        from pears_fruit_fly_spark.api import SearchEngine
        from pears_fruit_fly_spark.config import PostingsConfig

        self.engine = SearchEngine(
            self.spark, self.engine_dir, self.inputs.vocab,
            postings_cfg=PostingsConfig(store_positions=True,
                                        num_partitions=POSTINGS_PARTITIONS),
        )
        if not build and self.cache_dir.is_dir():
            shutil.copytree(self.cache_dir, self.engine_dir)
        else:
            self._build()
        # the gate maps doc ids of results from before a merge with this
        # copy: the merge drops deleted docs from the docmap
        shutil.copytree(self.engine.docmap_path, self.base_docmap)

    def _build(self) -> None:
        op = self.call("index", lambda: self.engine.index(self.pages_df("base")),
                       stage="setup")
        if op.error is not None:
            raise RuntimeError(f"base index build failed: {op.error}")
        self.index_info = op.rows
        if not self.cache_dir.is_dir():
            tmp = self.cache_dir.with_name(self.cache_dir.name + f".{os.getpid()}")
            shutil.copytree(self.engine_dir, tmp)
            os.replace(tmp, self.cache_dir)

    def search(self, kind: str, text: str, phase: str = "", stage="timed"):
        eng = self.engine
        if kind in ("bm25", "hybrid", "hamming"):
            name, df = f"search.{kind}", lambda: eng.search(text, mode=kind)
        elif kind == "phrase":
            name, df = "search_phrase", lambda: eng.search_phrase(text)
        else:
            name, df = "search_boolean", lambda: eng.search_boolean(text)
        return self.call(name, lambda: [tuple(r) for r in df().collect()],
                         text, phase, stage)

    def batch(self, phase: str = ""):
        from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand_batch

        queries = self.inputs.batch
        return self.call(
            "batch",
            lambda: [tuple(r) for r in bm25_topk_wand_batch(
                self.spark, self.engine.index_dir, queries,
                self.inputs.vocab).collect()],
            phase=phase,
        )


def delete(run: Run) -> None:
    run.call("delete", lambda: run.engine.delete(run.inputs.delete_urls))


def merge(run: Run) -> None:
    run.call("merge", lambda: run.engine.merge())


def serve(run: Run, seconds: float, traced: bool) -> None:
    from perfbench.host import disk_usage

    run.ingest(build=traced)
    run.disk_after_build = run.disk_end = disk_usage(run.engine_dir)
    for kind, text in run.inputs.warmup:
        run.search(kind, text, phase="base", stage="setup")
    run.setup_end = time.perf_counter()
    block = 10
    t_end = time.perf_counter() + seconds
    i = 0
    while i < len(run.inputs.schedule):
        kind, text = run.inputs.schedule[i]
        run.search(kind, text, phase="base")
        i += 1
        if i % block == 0 and time.perf_counter() >= t_end:
            break
    for _ in range(BATCH_CALLS["serve"]):
        run.batch(phase="base")
    delete(run)
    merge(run)
    run.disk_end = disk_usage(run.engine_dir)


def update(run: Run, seconds: float, traced: bool) -> None:
    from perfbench.host import disk_usage

    run.ingest(build=traced)
    run.disk_after_build = disk_usage(run.engine_dir)
    run.setup_end = time.perf_counter()
    texts = run.inputs.queries
    q = iter(range(10**9))

    def searches(write, phase, stage="timed"):
        for _ in range(SEARCHES_AFTER[write]):
            run.search("bm25", texts[next(q) % len(texts)], phase, stage)

    delete(run)
    searches("delete", "deleted")
    merge(run)
    searches("merge", "merged")
    for _ in range(BATCH_CALLS["update"]):
        run.batch(phase="merged")
    run.disk_end = disk_usage(run.engine_dir)
    for kind, text in run.inputs.gate:
        run.search(kind, text, "merged", stage="gate")
    if traced:
        run.call("append", lambda: run.engine.append(run.pages_df("new")),
                 stage="extra")
        searches("append", "appended", stage="extra")


WORKLOADS = {"serve": serve, "update": update}

# ---------------------------------------------------------------------------
# correctness gate
# ---------------------------------------------------------------------------


def _extraction(run: Run) -> None:
    """Extracted text per raw row must equal the generator's text, and the
    ingest filter must keep exactly the rows the reference keeps. The
    engine's own row counts become sources.wet.rows_in/rows_out."""
    from pears_fruit_fly_spark.config import INGEST_MIN_CHARS
    from pears_fruit_fly_spark.sources.wet import extract_pages, ingest_filter

    frames = [run.inputs.pages]
    raw = run.raw["base"]
    if run.ran("append"):
        frames.append(run.inputs.new_pages)
        raw = raw.unionByName(run.raw["new"])
    with run.rec.span("gate.extract", "gate.extract"):
        rows = (extract_pages(raw).select("url", "warc_ts", "text", "lang")
                .collect())
        rows_out = ingest_filter(extract_pages(raw)).count()
    got = {(r["url"], r["warc_ts"].timestamp()): (r["text"], r["lang"])
           for r in rows}
    want_out = 0
    bad: list[str] = []
    for pages in frames:
        for url, ts, want in zip(pages["url"], pages["warc_ts"], expected_text(pages)):
            text, lang = got.get((url, ts.timestamp()), ("<missing>", None))
            if text != want:
                bad.append(url)
            elif (text is not None and len(text) >= INGEST_MIN_CHARS
                  and lang == "en"):
                want_out += 1
    run.wet = {"rows_in": len(rows), "rows_out": rows_out}
    run.gate_checks.append((
        "extraction",
        f"{len(bad)} rows differ from the generator's text, e.g. {bad[:3]}"
        if bad else None))
    run.gate_checks.append((
        "ingest_filter",
        None if rows_out == want_out else
        f"ingest_filter kept {rows_out} rows, want {want_out}"))


def run_gate(run: Run) -> None:
    """Check every op and the ingest itself. Ops with an error or a wrong
    result are listed in run.failures; run.gate_checks holds the checks
    that are not tied to one op (extraction, docmap contents)."""
    _extraction(run)
    with run.rec.span("gate.docmap", "gate.docmap"):
        docmap, base_docmap = (
            {r["url"]: int(r["doc_id"]) for r in run.spark.read.parquet(p).collect()}
            for p in (run.engine.docmap_path, run.base_docmap))
    vocab = run.inputs.vocab
    base = live_pages(run.inputs.pages)
    new = live_pages(run.inputs.new_pages)
    deleted = set(run.inputs.delete_urls)

    # doc ids are stable across a merge, which only drops deleted urls
    id_of = {**base_docmap, **docmap}

    def docs(frames, drop=()):
        rows = []
        for df in frames:
            for url, text in zip(df["url"], df["text"]):
                if url not in drop:
                    rows.append((id_of.get(url, -1 - len(rows)), url, text))
        return rows

    all_docs = docs([base])
    merged_docs = docs([base], drop=deleted)
    appended_docs = docs([base, new], drop=deleted)
    final = (appended_docs if run.ran("append")
             else merged_docs if run.ran("merge") else all_docs)
    expect_urls = {u for _, u, _ in final}
    run.gate_checks.append((
        "docmap",
        None if set(docmap) == expect_urls else
        f"docmap holds {len(docmap)} urls, expected {len(expect_urls)}"))
    docs_of = {
        "base": (all_docs, ()),
        "deleted": (all_docs, deleted),
        "merged": (merged_docs, ()),
        "appended": (appended_docs, ()),
    }
    refs = {phase: gate.Reference(docs_of[phase][0], vocab, hidden=docs_of[phase][1])
            for phase in {o.phase for o in run.ops if o.phase}}
    url_of = {d: u for u, d in id_of.items()}
    for op in run.ops:
        why = op.error or _check(op, refs.get(op.phase), url_of, run.inputs.batch)
        if why is not None:
            run.failures.append(f"op {op.request} {op.kind} [{op.phase}] "
                                f"{op.text!r}: {why}")
    for name, why in run.gate_checks:
        if why is not None:
            run.failures.append(f"gate {name}: {why}")


def _check(op: Op, ref, url_of, batch) -> str | None:
    if ref is None:
        return None  # writes: their effect is checked by the reads after them
    k = 10  # every facade call uses its default k
    if op.kind in ("search.bm25", "search.hybrid", "search_phrase", "search_boolean"):
        got = [(u, float(s)) for u, _, s in op.rows]
        mism = [u for u, d, _ in op.rows if url_of.get(d, u) != u]
        if mism:
            return f"url/doc_id pairs disagree with the docmap: {mism[:3]}"
        for (_, d0, s0), (_, d1, s1) in zip(op.rows, op.rows[1:]):
            if s0 == s1 and d0 > d1:
                return f"equal scores not in doc_id order: {d0} before {d1}"
        if op.kind == "search_phrase":
            return gate.compare(got, ref.phrase(op.text, k))
        if op.kind == "search_boolean":
            return gate.compare(got, ref.boolean(op.text, k))
        if op.kind == "search.hybrid" and len(ref.live) > HYBRID_PREFILTER_K:
            return None  # the prefilter cuts candidates: no exact reference
        return gate.compare(got, ref.bm25(op.text, k))
    if op.kind == "search.hamming":
        return gate.check_hamming([(u, int(h)) for u, _, h in op.rows], k,
                                  ref.live)
    if op.kind == "batch":
        per_q: dict[int, list] = {}
        for qid, doc, score in op.rows:
            per_q.setdefault(int(qid), []).append((float(score), int(doc)))
        for qid, text in batch.items():
            hits = sorted(per_q.get(qid, []), key=lambda t: (-t[0], t[1]))
            got = [(url_of.get(d, f"<doc {d}>"), s) for s, d in hits]
            why = gate.compare(got, ref.bm25(text, k))
            if why is not None:
                return f"query {qid} {text!r}: {why}"
        return None
    return None


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

FACADE = ("search.bm25", "search.hybrid", "search.hamming", "search_phrase",
          "search_boolean")


def end_to_end(run: Run, setup_s: float) -> dict:
    """{name: (value, unit)} over the timed ops."""
    ops = [o for o in run.ops if o.stage == "timed"]
    facade = [o.seconds for o in ops if o.kind in FACADE]
    batches = [o.seconds for o in ops if o.kind == "batch"]
    writes = [o.seconds for o in ops if o.kind in ("delete", "merge")]
    live = live_pages(run.inputs.pages)
    if run.ran("merge"):
        live = live[~live["url"].isin(set(run.inputs.delete_urls))]
    live_text = sum(len(t.encode()) for t in live["text"])
    return {
        "setup_s": (setup_s, "s"),
        "query_p50_s": (statistics.median(facade), "s"),
        "queries_per_s": (len(facade) / sum(facade), "1/s"),
        "batch_queries_per_s": (
            len(run.inputs.batch) / statistics.median(batches), "1/s"),
        "delete_merge_s": (sum(writes), "s"),
        "index_bytes_per_text_byte": (
            sum(b for b, _ in run.disk_end.values()) / live_text, "ratio"),
    }
