"""Size-gated persistence for multi-consumer intermediates.

Several operators feed one prepared intermediate to TWO consumers (an
LSH signature table + its self-join sides). Without intervention Spark
recomputes the whole upstream prep once per consumer; ``persist()``
materializes it once — but a persist is also a materialization barrier
that defeats pipelining and whole-stage codegen across the boundary, and
writes every row to block storage.

Which side wins is a function of upstream size (measured on the round-4
→ round-5 bench A/B at sf0.1: unconditional MEMORY_AND_DISK persists
made the as-of family 30-50% SLOWER — the recompute they avoided was
cheaper than the barrier; at 100 TB the 2x scan+shuffle recompute
dominates instead). So: persist only when the estimated upstream scan
is large enough that recomputing it would cost more than materializing
the (usually much smaller) prepared stream.

Lifecycle note: persisted blocks are NOT unpersisted by the operator —
the returned DataFrame is lazy and the operator cannot know when its
consumer is done. Long-lived sessions issuing MANY large persisted
operator calls should call ``spark.catalog.clearCache()`` between
logical jobs (bench.py does); below ``maybe_persist``'s size gate (the
common interactive case) nothing is persisted by that helper.

(r14 note: the r13-era INVERTED small-source gate — persist only when
SMALL, for broadcast-join regimes that re-ran an Arrow UDF once per
self-join side — was retired along with its last call site when the
ngram shingle hashing moved to pure JVM expressions; re-running cheap
expressions per side costs less than the materialization barrier, and
at scale identical sort-merge sides share one exchange via AQE reuse.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

# Upstream-scan size above which a multi-consumer persist pays for
# itself. 1 GiB ~ the point where a second scan+shuffle pass costs more
# than writing the prepared stream to local block storage once.
DEFAULT_PERSIST_MIN_BYTES = 1 << 30


def local_file_sizes(df: DataFrame) -> list[int] | None:
    """Byte sizes of the files feeding ``df``'s scan, from one
    ``inputFiles()`` call: ``[]`` for a plan with no file scan, None
    when any file is not locally stat-able (remote FS, vanished file)
    or the plan cannot list its inputs."""
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    sizes = []
    for f in files:
        p = urlparse(f)
        if p.scheme not in ("", "file"):
            return None
        try:
            sizes.append(os.path.getsize(unquote(p.path)))
        except OSError:
            return None
    return sizes


def estimated_source_bytes(df: DataFrame) -> int | None:
    """Total size of the locally stat-able files feeding ``df``'s scan.

    Returns None when unknown (remote FS, non-file source) — callers
    treat unknown as "assume big" since only genuinely large deployments
    read from object stores. A plan with no file scan at all (pure
    ``spark.range`` / in-memory relation) estimates 0: its recompute is
    CPU-only and cheap relative to a persist barrier.
    """
    sizes = local_file_sizes(df)
    return None if sizes is None else sum(sizes)


def estimated_source_rows(
    df: DataFrame,
    bytes_per_row: int = 32,
    per_file_overhead: int = 8192,
) -> int | None:
    """Conservative row-count LOWER-bound-ish estimate from file stats:
    ``sum(max(0, size_i - overhead)) / bytes_per_row``. The per-file
    overhead subtraction matters for many-small-files layouts, where
    parquet footers would otherwise dominate and inflate the estimate
    by orders of magnitude. Returns None when sizes aren't stat-able.
    """
    sizes = local_file_sizes(df)
    if sizes is None:
        return None
    return sum(max(0, s - per_file_overhead) for s in sizes) // bytes_per_row


def auto_bucket_cap(df: DataFrame, bytes_per_row: int = 512) -> int:
    """Default ``max_bucket_size`` for the LSH-banding screens:
    ``max(64, 8 * ceil(log2(est_rows + 2)))`` from the file-stat row
    estimate (64 when the source isn't stat-able — the floor keeps the
    guard ACTIVE, bounded-recall-trade, rather than silently off).

    Rationale: band buckets of unrelated documents stay O(1) once band
    width scales with log2(n) (the ``lsh_neardup_pairs`` band_bits
    rule), so any bucket past a few dozen members is a true
    near-identical cluster — exactly the shape whose within-bucket
    clique join emits O(c²) candidate pairs and dominated the r12
    hot-cluster smoke (legacy form killed at 600 s; star-reduced form
    8.4 s). The log-scaled headroom above the 64 floor keeps mid-size
    true clusters fully enumerated on bigger corpora where the audit
    has more room to spend; callers opt out with ``max_bucket_size=0``
    and see dropped-pair accounting via the banding audits."""
    import math

    est = estimated_source_rows(df, bytes_per_row=bytes_per_row) or 0
    return max(64, 8 * math.ceil(math.log2(est + 2)))


def resolve_bucket_cap(
    df: DataFrame, max_bucket_size: int | None, bytes_per_row: int = 512
) -> int:
    """A screen's ``max_bucket_size`` argument made concrete: ``None`` →
    :func:`auto_bucket_cap`, a negative value → ValueError, anything
    else as given (``0`` = uncapped)."""
    if max_bucket_size is None:
        return auto_bucket_cap(df, bytes_per_row=bytes_per_row)
    if max_bucket_size < 0:
        raise ValueError("max_bucket_size must be >= 0 (0 = uncapped)")
    return max_bucket_size


def auto_random_buckets(df: DataFrame, bytes_per_row: int = 512) -> int:
    """Default ``random_buckets`` for the banding audits:
    ``max(est_rows // 2, 16)``, so the audit's random within-bucket
    self-join keeps O(1)-sized buckets at any corpus size. The row
    estimate comes from file stats, falling back to an exact ``count()``
    when the source isn't stat-able — an ``or 16`` fallback would give
    n/16-sized buckets and a quadratic join on in-memory sources, the
    blow-up the auto-sizing exists to prevent."""
    est_n = estimated_source_rows(df, bytes_per_row=bytes_per_row)
    if not est_n:
        est_n = df.count()
    return max(est_n // 2, 16)


def maybe_persist(df: DataFrame, min_bytes: int | None = None) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK — keeps lineage, executor loss
    degrades to recompute) iff its upstream looks big enough to be worth
    the barrier: an unknown estimate, or one of at least ``min_bytes``
    (default :data:`DEFAULT_PERSIST_MIN_BYTES`).
    """
    from pyspark.storagelevel import StorageLevel

    if min_bytes is None:
        min_bytes = DEFAULT_PERSIST_MIN_BYTES
    est = estimated_source_bytes(df)
    if est is None or est >= min_bytes:
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    return df
