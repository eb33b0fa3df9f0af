"""Engine configuration dataclasses.

Hyperparameter defaults follow the reference's deployed production fly
(ref: web_map/pod_starter/fly/fly.m — kc_size=7076, wta=10, projection
7076x20000; loaded at web_map/pod_starter/hash_pod.py:132-134) and the pod
hashing CLI defaults (top_words=250 at web_map/pod_starter/hash_pod.py:42,
logprob power 3 at fruit_fly/hash.py:51). Test fixtures shrink KC to 64 so a
signature fits one 64-bit word.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class FlyConfig:
    """Fruit-fly hashing hyperparameters."""

    pn_size: int = 2000          # vocabulary size (PN layer); 20000 in prod
    kc_size: int = 64            # Kenyon-cell count; 7076 in prod
    proj_size: int = 8           # PNs wired into each KC
    top_words: int = 250         # doc-side WTA absolute k (hash_pod.py:42)
    wta_percent: float = 10.0    # KC-side WTA, percent of KCs kept
    logprob_power: float = 3.0   # weight = (-logprob) ** power (hash.py:51)
    seed: int = 7                # projection-matrix RNG seed

    @property
    def sig_words(self) -> int:
        """64-bit words per packed signature."""
        return (self.kc_size + 63) // 64

    @property
    def wta_k(self) -> int:
        """Absolute KC count kept by the KC-side WTA (hash.py:104)."""
        return max(1, int(self.wta_percent * self.kc_size / 100))


@dataclass(frozen=True)
class BM25Config:
    """Okapi BM25 parameters — pinned by BASELINE.json north_rule."""

    k1: float = 1.2
    b: float = 0.75


@dataclass(frozen=True)
class PostingsConfig:
    """Inverted-index layout parameters."""

    block_size: int = 128        # docs per block-max block
    num_partitions: int = 32     # term partitions (term_bucket count)
    skew_df_threshold: int = 100_000  # df above which a term is salted
    max_docs_per_subpartition: int = 1_000_000  # salt splitting granularity
    flat_staging_max_docs: int = 10_000  # below this corpus size the
    # staging write skips the per-bucket directory layout (64-4096 tiny
    # dirs cost more in commit overhead than they save): tokens land in a
    # few plain parquet files with term_bucket as a physical column, and
    # each encode task filters its bucket from the (small) whole staging.
    # Large builds keep the partitioned layout so tasks read ONLY their
    # bucket (flat mode re-reads the whole staging once per bucket task,
    # so it only pays while staging is a few MB — measured breakeven
    # ~10k web docs). Recorded in build_info so resume keeps the layout.
    encode_rows_per_task: int = 4_000_000  # encode-task size cap: a bucket
    # with more staged rows than this splits into hash-shards of whole
    # (term, salt) runs, so no single encode task holds a monster bucket
    # (output layout is shard-count independent)
    bucket_batch_size: int | None = None  # buckets encoded per Spark job;
    # None = all pending in one job (fastest); smaller = finer resume
    # granularity (checkpoint manifest rows are always per-bucket)
    staging_filesystem: object | None = None  # optional picklable
    # pyarrow.fs.FileSystem for the worker-side staged-bucket reads of
    # the encode stage (operators/postings._bucket_encoder). On a real
    # cluster, object-store credentials often live in Hadoop/Spark conf
    # that pyarrow's URI resolution cannot see (e.g. assumed-role S3A
    # settings) — inject an S3FileSystem / PyFileSystem / SubTreeFileSystem
    # here and every bucket read resolves through it (scheme prefix is
    # stripped from paths before they are handed over). None (default):
    # pyarrow infers the filesystem from the staging path itself.
    store_positions: bool = False  # True = record token positions per
    # posting (the Lucene .pos analog; enables phrase queries,
    # operators/phrase.py). Positions are delta+varbyte encoded in the
    # narrow tokenize stage, so the build's one wide exchange ships
    # compressed bytes; index grows by ~1-2 bytes per token occurrence.
    # Staged as PTB2 blobs: each blob carries its varbyte position runs
    # as one flat stream (operators/postings.pack_token_blobs).


INGEST_MIN_CHARS = 1000  # ref: common_crawl_processor/cc_process_wet.py:77
