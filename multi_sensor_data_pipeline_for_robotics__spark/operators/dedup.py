"""Deduplication operators for large-scale training-data pipelines:
exact, n-gram Jaccard similarity join, MinHash+LSH, SimHash.

Scale design:
  - Exact dedup groups on a 256-bit content hash, not the document
    body — the shuffle moves 32 bytes + ids per row instead of full
    texts. (100 TB of text → ~3 TB of hashes.)
  - The Jaccard similarity join is an inverted-index (explode + shingle
    equi-join) plan — the standard "document-token join" — never an
    all-pairs cross join. Cost is sum of squared shingle document-
    frequencies; a ``max_shingle_df`` knob drops ubiquitous shingles
    (stopword storms) for the approximate-at-scale variant.
  - MinHash signatures use ``xxhash64(token, seed)`` per permutation —
    computed in one projection over exploded tokens, aggregated with
    ``min`` per (doc, seed); LSH banding turns candidate generation
    into an equi-join on (band, band-signature). No pairwise loops
    anywhere.
  - SimHash packs a 64-bit signature via per-bit majority vote and
    finds Hamming-ball candidates by the block trick: distance ≤ k
    pairs must agree on ≥1 of k+1 signature blocks → equi-join per
    block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

import os

from multi_sensor_data_pipeline_for_robotics__spark.cache import (
    auto_bucket_cap,
    estimated_source_bytes,
    maybe_persist,
)
from multi_sensor_data_pipeline_for_robotics__spark.functions.text import tokens
from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import ensure_parallelism


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups keyed by sha256(text): representative =
    min id, plus copy count. Collision-free in practice (2^-128)."""
    h = F.sha2(F.col(text_col), 256)
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
    stride: int = 20,
) -> DataFrame:
    """Sub-document exact dedup: split every document into token
    windows (the paragraph/line-dedup analog for unstructured corpora —
    C4-style line dedup with windows as the unit) and keep the first
    occurrence of each distinct window across the WHOLE corpus.

    Returns one row per distinct chunk: ``(chunk_hash, doc_id,
    chunk_idx, n_copies)`` where (doc_id, chunk_idx) is the canonical
    first occurrence (lexicographic min). Catches boilerplate repeated
    across otherwise-unique documents — the case whole-document
    ``dedup_exact`` misses.

    Scale: the groupBy key is sha256(chunk), so the shuffle carries
    32-byte hashes + two ids, never chunk text; first-occurrence choice
    is ``min(struct(id, idx))`` — an algebraic aggregate (map-side
    combinable), not a window function, so no per-hash sort.
    """
    from multi_sensor_data_pipeline_for_robotics__spark.functions.text import chunks

    ch = df.select(
        F.col(id_col),
        F.explode(chunks(tokens(F.col(text_col)), chunk_tokens, stride)).alias("c"),
    ).select(
        F.col(id_col),
        F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
        F.sha2(F.col("c.chunk_text"), 256).alias("chunk_hash"),
    )
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.min(F.struct(id_col, "chunk_idx")).alias("keep"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "chunk_hash",
            F.col(f"keep.{id_col}").alias(id_col),
            F.col("keep.chunk_idx").alias("chunk_idx"),
            "n_copies",
        )
    )


def shingles(toks, n: int = 3):
    """Distinct n-token shingles (space-joined) of a token array.

    INPUT CONTRACT: the token array must be NULL-FREE (a null entry
    nulls every shingle overlapping it — same contract as
    ``functions.text.ngrams``, see its docstring for why). Every
    tokenizer in this package satisfies it (``split()`` never emits
    nulls); external callers passing hand-built arrays must
    ``array_compact`` first.

    Built as ``n`` shifted O(len) slices folded with ``zip_with``
    (``functions.text.ngrams``'s shape) — the previous per-position
    ``element_at`` transform was O(len·n) interpreted lookups per doc
    and dominated the portable-minhash signature pass.
    ``shingle_hashes`` (Arrow-batched blake2b) remains the MinHash base
    hash (its outputs depend on the hash values);
    ``shingle_hashes_jvm`` is the pure-JVM form for consumers where the
    hash is only an equality proxy. Short docs (< n tokens) get an
    empty shingle set.
    """
    if n == 1:
        return F.array_distinct(toks)
    m = F.size(toks) - F.lit(n - 1)
    parts = [F.slice(toks, F.lit(i + 1), m) for i in range(n)]
    g = parts[0]
    for p in parts[1:]:
        g = F.zip_with(g, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(toks) >= n, F.array_distinct(g)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_hashes(text_col, n: int = 3):
    """Distinct n-token-shingle 64-bit hashes of a text column — the
    vectorized fast path for the similarity joins.

    One Arrow batch in, one blake2b-8 per shingle (C speed) — ~50x
    faster than the equivalent Catalyst higher-order expression and the
    join key is a fixed 8 bytes regardless of shingle width. Hash
    collisions at 64 bits are negligible for any realistic corpus
    (birthday bound ~1e-9 at 10^5 distinct shingles)."""
    import pandas as pd
    from hashlib import blake2b
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _hashes(texts):
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            toks = t.split(" ")
            seen = {
                int.from_bytes(
                    blake2b(
                        " ".join(toks[i : i + n]).encode(), digest_size=8
                    ).digest(),
                    "big",
                    signed=True,
                )
                for i in range(max(len(toks) - n + 1, 0))
            }
            out.append(list(seen))
        return pd.Series(out)

    return _hashes(text_col)


def shingle_hashes_jvm(text_col, n: int = 3):
    """Distinct n-token-shingle 64-bit hashes, PURE JVM: space split →
    :func:`shingles` (zip_with n-gram strings, distinct) → one xxhash64
    per shingle. For consumers where the hash is only an equality proxy
    and its 64-bit identity never reaches the output (the ngram
    Jaccard/containment pair core, the contamination screen), this
    replaces the Arrow-batched :func:`shingle_hashes`: the Python
    kernel's compute was trivial but every task paid an Arrow
    round-trip wait (~97% idle time in the 32-task hashing stage at
    sf0.1; whole row 1.49 → 1.26 s, pair sets collect-identical), and
    removing the BatchEval/ArrowEvalPython node also removes the
    duplicated-UDF-pushdown hazards around it. :func:`minhash_signatures`
    MUST keep the Arrow blake2b form — its output VALUES depend on the
    base hash. Same null/short-doc behavior: NULL text and < n tokens
    yield an empty set (``shingles``' guard); collision bound identical
    (both are 64-bit)."""
    toks = F.split(text_col, " ")
    return F.transform(shingles(toks, n), lambda s: F.xxhash64(s))


DEFAULT_MAX_SHINGLE_DF = 10_000


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 1,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    round_to: int | None = 6,
    collapse_identical: bool = False,
) -> DataFrame:
    """All document pairs with n-gram-shingle Jaccard >= threshold.

    Inverted-index plan: explode distinct shingles → self-equi-join on
    shingle → per-pair intersection counts → |A∪B| = |A|+|B|-|A∩B|.
    ``max_shingle_df`` drops shingles appearing in more than that many
    documents before the join — approximate but removes the O(df²)
    candidate blowup of ubiquitous shingles. The join cost is Σ df² over
    surviving shingles, so an uncapped run on a web-scale corpus is a
    stopword storm; the cap is therefore ON by default (a shingle shared
    by >10k docs carries no near-dup signal). Pass
    ``max_shingle_df=None`` explicitly for the exact small-corpus
    variant.

    ``collapse_identical=True`` (opt-in; changes output semantics the
    same way the LSH screens' always-on collapse does): byte-identical
    documents collapse to their min-id representative BEFORE the
    shingle join, and members are emitted as ``(rep, member, 1.0)``
    star edges instead of the c(c-1)/2 clique. Every shingle's df then
    counts distinct TEXTS, not copies, so a c-copy boilerplate cluster
    stops multiplying the Σ df² join cost by c². Connectivity through
    the representative is preserved (components unchanged); run it
    when the corpus has NOT already been through ``dedup_exact``.
    """
    star = None
    if collapse_identical:
        df, star = _collapse_exact_texts(df, text_col, id_col)
    if max_shingle_df is None and threshold > 0 and _prefix_filter_auto(df):
        # scale regime of the EXACT (uncapped) variant: the Σ df² join
        # output is the corpus²-shaped cost, and prefix filtering
        # (AllPairs) cuts the candidate pairs exactly — only pairs that
        # can still reach the threshold are generated and verified.
        inter = _ngram_pair_intersections_prefix(
            df, n, text_col, id_col, threshold, round_to
        )
    else:
        inter = _ngram_pair_intersections(df, n, text_col, id_col, max_shingle_df)
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    out = (
        inter.withColumn("jaccard", F.round(jac, round_to) if round_to else jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    if star is not None:
        out = out.unionByName(
            star.select("doc_a", "doc_b", F.lit(1.0).alias("jaccard"))
        )
    return out


def _collapse_exact_texts(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Collapse byte-identical texts to their min-id representative:
    returns ``(reps, star)`` where reps keeps one full row per distinct
    sha256(text) and star is the ``(doc_a=rep, doc_b=member)`` edge
    list for the collapsed members. One window shuffle on the content
    hash; texts never move twice."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256))
    marked = df.withColumn("__rep", F.min(id_col).over(w))
    star = marked.filter(F.col(id_col) != F.col("__rep")).select(
        F.col("__rep").alias("doc_a"), F.col(id_col).alias("doc_b")
    )
    return marked.filter(F.col(id_col) == F.col("__rep")).drop("__rep"), star


def _ngram_pair_intersections(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_shingle_df: int | None,
) -> DataFrame:
    """The shared candidate core of the set-similarity family:
    (doc_a, doc_b, sz_a, sz_b, inter) for every document pair sharing
    ≥1 surviving shingle. One pure-JVM projection builds the distinct
    shingle-hash array (:func:`shingle_hashes_jvm` — r14, replacing the
    Arrow blake2b kernel whose round-trip waits dominated the hashing
    stage); postings carry (doc, |set|, hash) so set sizes travel with
    the rows and the equi-join compares 8-byte keys instead of
    strings."""
    arr = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        shingle_hashes_jvm(F.col(text_col), n).alias("__arr"),
    )
    # explode_OUTER, deliberately: plain explode makes the optimizer
    # infer a `size(__arr) > 0` filter and push it below the widening
    # repartition — re-evaluating the shingle projection on the
    # single-task scan (the r13 duplicated-pushdown finding; cheaper
    # now that hashing is JVM-side, but still a wasted narrow pass).
    # explode_outer infers no such filter, so the projection runs once,
    # wide. Output is identical: an empty/null shingle set yields one
    # null-sh row, which the sh equi-join drops.
    #
    # No materialization of the postings (r14): the r13 small-regime
    # persist existed because the broadcast-join regime re-ran the
    # Arrow UDF once per join side; with JVM hashing the re-run is
    # cheap expressions (A/B at sf0.1: persist 1.13 s vs none 1.10 s)
    # and at scale the identical sort-merge sides share one exchange
    # via AQE stage reuse.
    sh = arr.select(
        "doc", F.size("__arr").alias("sz"), F.explode_outer("__arr").alias("sh")
    )
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_shingle_df)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


# Auto-enable gate for the prefix-filtered exact Jaccard plan. Below
# this source size the shipped groupBy-count plan's fewer stages win:
# measured at sf0.1 (5k docs, 0.6 MB, 31-token vocabulary) the prefix
# plan is 1.23 s -> 2.87 s SLOWER — candidate generation + verify adds
# three shuffles while the full join output (1.27M rows) is still small,
# and the tiny vocabulary makes every shingle mid-frequency so prefixes
# only cut candidates ~3.6x. Above the gate the Σ df² join output is
# the corpus²-shaped scale-killer and the df-ordered prefix cut
# dominates: 27.66 s -> 6.78 s (4.1x, outputs exceptAll-equal) on a
# 60k-doc smoke where 20% of documents share a 14-token boilerplate
# header — the storm shape the uncapped variant hits in the wild (see
# OPTIMIZATION_r14.md).
NGRAM_PREFIX_MIN_BYTES = 256 << 20


def _prefix_filter_auto(df: DataFrame) -> bool:
    env = os.environ.get("SPARK_GRAFT_NGRAM_PREFIX")
    if env in ("0", "1"):
        return env == "1"
    est = estimated_source_bytes(df)
    return est is None or est >= NGRAM_PREFIX_MIN_BYTES


def _ngram_pair_intersections_prefix(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    threshold: float,
    round_to: int | None,
) -> DataFrame:
    """Prefix-filtered (AllPairs) exact intersections for the uncapped
    Jaccard join: same ``(doc_a, doc_b, sz_a, sz_b, inter)`` schema as
    :func:`_ngram_pair_intersections`, RESTRICTED to pairs that can
    still reach ``threshold`` (a superset of the pairs surviving the
    caller's score filter, so the filtered output is identical).

    Plan (guide §3 join-input reduction): sort each document's distinct
    shingle-hash set by ASCENDING global document frequency (rarest
    first, ties by hash — a total order consistent across documents); a
    pair with Jaccard ≥ t must share a hash within the first
    ``sz - ⌈te·sz⌉ + 1`` elements of BOTH sets (prefix-filter lemma with
    the per-record overlap lower bound o ≥ ⌈te·sz⌉, valid because
    jac ≥ t implies the partner is no smaller than te·sz), and its sizes
    must satisfy te·sz_a ≤ sz_b ≤ sz_a/te. Candidates come from a
    self-join of the PREFIX postings only — with df-ordering the
    ubiquitous shingles (the Σ df² storm the cap exists for) fall
    OUTSIDE every prefix, so the join cost collapses to the rare-shingle
    postings. The exact intersection is then one ``array_intersect``
    against the full arrays. ``te`` is ``threshold`` minus the caller's
    rounding quantum so round-half-up at the boundary can never lose a
    pair.

    Both the raw shingle arrays and the df-sorted arrays are persisted
    (the REDUCED corpus form — 8-byte hashes, no text): the raw arrays
    feed the df count and the sort join, the sorted arrays feed the
    prefix join and both verify sides; re-running the shingle
    projection or the sort shuffle per consumer costs more than
    materializing either. Env A/B knobs from cache.py apply.
    """
    te = threshold - (10.0 ** -round_to if round_to else 0.0)
    raw = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        shingle_hashes_jvm(F.col(text_col), n).alias("__arr"),
    )
    raw = maybe_persist(raw, min_bytes=0)
    post = raw.select("doc", F.explode("__arr").alias("sh"))
    dfc = post.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    arr = (
        post.join(dfc, "sh")
        .groupBy("doc")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(__df, sh))), p -> p.sh)"
            ).alias("__arr")
        )
    )
    arr = maybe_persist(arr, min_bytes=0)
    sz = F.size("__arr")
    plen = (sz - F.ceil(F.lit(te) * sz - F.lit(1e-9)) + 1).cast("int")
    pref = arr.select(
        "doc",
        sz.alias("sz"),
        F.explode(F.slice(F.col("__arr"), F.lit(1), plen)).alias("sh"),
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("b.sz") >= F.lit(te) * F.col("a.sz"))
            & (F.col("a.sz") >= F.lit(te) * F.col("b.sz")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    va = arr.select(F.col("doc").alias("doc_a"), F.col("__arr").alias("__aa"))
    vb = arr.select(F.col("doc").alias("doc_b"), F.col("__arr").alias("__ab"))
    return cand.join(va, "doc_a").join(vb, "doc_b").select(
        "doc_a",
        "doc_b",
        F.size("__aa").alias("sz_a"),
        F.size("__ab").alias("sz_b"),
        F.size(F.array_intersect("__aa", "__ab")).alias("inter"),
    )


def ngram_containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
    round_to: int | None = 6,
) -> DataFrame:
    """Document pairs where the SMALLER n-gram set is ≥ ``threshold``
    contained in the other: containment = |A∩B| / min(|A|, |B|) —
    the asymmetric-size dedup signal Jaccard structurally misses (a
    100-token doc quoted whole inside a 10k-token doc scores Jaccard
    ≈ 0.01 but containment 1.0; quote-inclusion, boilerplate wrappers,
    and excerpt pages all look like this). Same inverted-index plan,
    df-cap, and cost shape as :func:`ngram_jaccard_pairs` — only the
    score differs. Output: (doc_a, doc_b, containment) with doc_a the
    smaller id.

    No prefix-filter regime here: containment's overlap bound is
    o ≥ ⌈t·min(|A|,|B|)⌉ and the partner may be arbitrarily small, so
    the larger side's sound prefix is its FULL set — prefix filtering
    degenerates. The df-cap is the scale control for this operator.
    """
    inter = _ngram_pair_intersections(df, n, text_col, id_col, max_shingle_df)
    cont = F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        inter.withColumn(
            "containment", F.round(cont, round_to) if round_to else cont
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


# Auto-enable gate for the ids-only (narrow) LSH band join: below it the
# wide form's single exchange wins (r13 prototype + r14 re-measure: the
# two signature re-attach joins cost more than the ~280 B/row payload
# the banding shuffle saves when the whole table is a few MB); above it
# the banding exchange is bands× the corpus and payload width is the
# §2.3 shuffle-bytes lever. Env A/B: SPARK_GRAFT_MINHASH_NARROW=0/1.
MINHASH_NARROW_MIN_BYTES = 256 << 20


def _narrow_band_auto(df: DataFrame) -> bool:
    env = os.environ.get("SPARK_GRAFT_MINHASH_NARROW")
    if env in ("0", "1"):
        return env == "1"
    est = estimated_source_bytes(df)
    return est is None or est >= MINHASH_NARROW_MIN_BYTES


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 1,
) -> DataFrame:
    """MinHash signature per document: for each of ``num_hashes``
    seeded xxhash64 "permutations", the min hash over the shingle set.
    One explode + one groupBy — signature entries land in an array
    ordered by seed."""
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingle_hashes(F.col(text_col), shingle_n)).alias("shingle"),
    )
    # one parsed-SQL expression instead of num_hashes Column builds:
    # identical plan (verified result-equal), ~5x cheaper to CONSTRUCT —
    # py4j round-trips per Column object dominated the driver-side
    # query-build time of the LSH screens (guide §7.3 class; measured
    # 0.33s -> 0.07s for this builder at num_hashes=32)
    arr = ", ".join(f"min(xxhash64(shingle, {i}))" for i in range(num_hashes))
    return sh.groupBy("doc").agg(F.expr(f"array({arr})").alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding over MinHash signatures,
    scored by estimated Jaccard (matching signature fraction).

    rows/band = num_hashes/bands; a pair collides if any band's slice
    matches exactly (equi-join on (band, hash(slice))). Estimated
    Jaccard filters candidates; exact verification can follow with
    ``ngram_jaccard_pairs`` semantics on the candidate set.

    Scale guards against the O(c²)-pairs-per-cluster blowup that
    boilerplate-heavy web corpora hit after exact dedup (a c-member
    templated-page cluster lands whole in one bucket of EVERY band):

    * **Signature-identical collapse (always on).** Documents sharing
      the entire signature are collapsed to their min-id representative
      before the band join; each member is emitted directly as a
      ``(rep, member, est_jaccard=1.0)`` star edge — exactly the score
      the join would have computed (all ``num_hashes`` slots match) —
      and only representatives enter the banding. Cost per
      signature-identical cluster: c-1 edges instead of c(c-1)/2, and
      member pairs never reach the join. Connectivity through the
      representative is preserved, so downstream connected components
      are unchanged; only the redundant clique expansion (derivable
      from the star) is dropped.
    * **``max_bucket_size`` (DEFAULT ON, auto-sized).** Any (band,
      bucket) group of representatives larger than this emits doc →
      bucket-min star edges (est scored from the signatures as usual,
      threshold still applies) instead of joining all pairs, bounding
      the worst bucket at c-1 edges. ``None`` auto-sizes via
      ``cache.auto_bucket_cap`` (``max(64, 8·ceil(log2(est_rows)))``
      from the file-stat row estimate) so a factory-default call gets
      the hot-cluster protection; pass ``0`` to opt out (full cliques).
      Dropped-pair accounting is surfaced by
      ``dedup_audit(..., max_bucket_size=...)``.
    """
    assert num_hashes % bands == 0
    if max_bucket_size is None:
        max_bucket_size = auto_bucket_cap(df)
    elif max_bucket_size < 0:
        raise ValueError("max_bucket_size must be >= 0 (0 = uncapped)")
    r = num_hashes // bands
    # the banded self-join consumes the signatures twice; size-gated
    # persist of the 1-row-per-doc signature table (shingle UDF +
    # num_hashes-way agg is the expensive part) so a BIG upstream is
    # computed once — below the gate the identical self-join sides
    # already share one shuffle via ReusedExchange, so a persist only
    # adds a barrier (measured slower at bench scale).
    sig = maybe_persist(minhash_signatures(df, num_hashes, text_col, id_col, shingle_n))

    def est(sa: str, sb: str):
        # parsed-SQL form of size(filter(zip_with(sa, sb, =), id))/N —
        # one py4j call per use instead of a lambda-Column tree (driver
        # build-time optimization, plan and values identical)
        return F.expr(
            f"cast(size(filter(zip_with({sa}, {sb}, (x, y) -> x = y),"
            f" m -> m)) as double) / {num_hashes}"
        )

    # signature-identical collapse: one shuffle keyed on
    # xxhash64(signature) — an 8-byte sort key instead of the 32-long
    # array (window exec SORTS by its partition key; sorting the raw
    # arrays measured ~0.7s extra on the sf0.1 bench row). Star-edge
    # est_jaccard is computed from the ACTUAL signatures, so a 64-bit
    # key collision can only demote a doc to an exact-scored star
    # candidate (bounded recall loss ~n^2/2^64), never emit a wrong
    # score — the right trade for the engine-seeded fast family; the
    # oracle-checked portable path groups by the exact h-columns.
    sigr = sig.withColumn(
        "__m",
        F.min(F.struct("doc", "signature")).over(
            Window.partitionBy(F.xxhash64("signature"))
        ),
    )
    star = sigr.filter(F.col("doc") != F.col("__m.doc")).select(
        F.col("__m.doc").alias("doc_a"),
        F.col("doc").alias("doc_b"),
        est("__m.signature", "signature").alias("est_jaccard"),
    )
    reps = sigr.filter(F.col("doc") == F.col("__m.doc")).drop("__m")
    # banding explode as ONE parsed expression (bands x r xxhash64 slice
    # structs) — same plan as the Column-built form, far fewer py4j
    # round-trips at query-build time
    bb = ", ".join(
        "struct({bi} as band, xxhash64({slots}) as bucket)".format(
            bi=bi,
            slots=", ".join(f"signature[{bi * r + j}]" for j in range(r)),
        )
        for bi in range(bands)
    )
    banded = reps.select(
        "doc", "signature", F.expr(f"explode(array({bb}))").alias("bb")
    ).select("doc", "signature", "bb.band", "bb.bucket")
    if _narrow_band_auto(df):
        # NARROW banding shuffle for the scale regime (guide §2.3
        # "shuffle keys and metadata instead of payloads"): the banding
        # exchange ships (doc, band, bucket) ≈ 24 B/row instead of
        # carrying the num_hashes-long signature array (≈ 280 B/row at
        # 32 hashes) through bands× the corpus; candidate ids are
        # deduped FIRST and the signatures re-attached once, by doc,
        # for scoring. Every pair's est is computed from the same two
        # signatures as the wide form, so the output is identical
        # (dropDuplicates keeps one of several equal-est copies either
        # way). Off below the gate: at bench scale the two extra
        # attach joins cost more than the payload the shuffle saves.
        bn = banded.select("doc", "band", "bucket")
        ids = None
        if max_bucket_size:
            wb = Window.partitionBy("band", "bucket")
            sized = bn.withColumn("__n", F.count(F.lit(1)).over(wb)).withColumn(
                "__mdoc", F.min("doc").over(wb)
            )
            bucket_star_ids = sized.filter(
                (F.col("__n") > max_bucket_size) & (F.col("doc") != F.col("__mdoc"))
            ).select(
                F.col("__mdoc").alias("doc_a"), F.col("doc").alias("doc_b")
            )
            bn = sized.filter(F.col("__n") <= max_bucket_size).drop("__n", "__mdoc")
            ids = bucket_star_ids
        a, b = bn.alias("a"), bn.alias("b")
        cand_ids = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        ).select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        ids = cand_ids if ids is None else cand_ids.unionByName(ids)
        sa = sig.select(F.col("doc").alias("doc_a"), F.col("signature").alias("__sa"))
        sb = sig.select(F.col("doc").alias("doc_b"), F.col("signature").alias("__sb"))
        cand = (
            ids.distinct()
            .join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", est("__sa", "__sb").alias("est_jaccard"))
        )
    else:
        if max_bucket_size:
            # the cap window partitions on the band-join key, so its
            # exchange+sort IS the join's required distribution — plan
            # cost of the default-on guard is the window evaluation only
            wb = Window.partitionBy("band", "bucket")
            sized = banded.withColumn("__n", F.count(F.lit(1)).over(wb)).withColumn(
                "__m", F.min(F.struct("doc", "signature")).over(wb)
            )
            bucket_star = sized.filter(
                (F.col("__n") > max_bucket_size) & (F.col("doc") != F.col("__m.doc"))
            ).select(
                F.col("__m.doc").alias("doc_a"),
                F.col("doc").alias("doc_b"),
                est("__m.signature", "signature").alias("est_jaccard"),
            )
            banded = sized.filter(F.col("__n") <= max_bucket_size).drop("__n", "__m")
            star = star.unionByName(bucket_star)
        a, b = banded.alias("a"), banded.alias("b")
        cand = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        ).select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            est("a.signature", "b.signature").alias("est_jaccard"),
        )
    return (
        cand.unionByName(star)
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "est_jaccard")
    )


MINHASH_PRIME = 2147483629  # largest prime below 2^31
_MH_MASK = 0x7FFFFFFF


def minhash_signatures_portable(
    df: DataFrame,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-engine-deterministic MinHash signature per document:
    (doc, h0..h{N-1}) columns. Base hash = first 28 bits of
    sha256(shingle); permutations = Carter-Wegman ``(a_i*base+b_i) mod
    p`` in 63-bit-safe BIGINT math. This is the table a production
    pipeline PRECOMPUTES AND STORES once per corpus — incremental
    screens (:func:`dedup_against_corpus`) then join new batches
    against it without ever touching corpus text again."""
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(shingles(tokens(F.col(text_col)), shingle_n)).alias("shingle"),
    )
    base = F.conv(F.substring(F.sha2(F.col("shingle"), 256), 1, 7), 16, 10).cast(
        "long"
    )
    mins = [
        F.min((F.lit(2 * i + 1) * base + F.lit(7919 * i)) % MINHASH_PRIME).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc").agg(*mins)


def _banded_portable(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode a portable signature table into one row per (doc, band)
    with the band's bucket = 31-polynomial fold of its r hash slots."""
    r = num_hashes // bands

    def band_bucket(bi: int):
        acc = F.lit(0).cast("long")
        for j in range(r):
            acc = (acc * 31 + F.col(f"h{bi * r + j}")).bitwiseAND(F.lit(_MH_MASK))
        return acc

    return sig.select(
        "doc",
        *[F.col(f"h{i}") for i in range(num_hashes)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"), band_bucket(bi).alias("bucket")
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", *[f"h{i}" for i in range(num_hashes)], "bb.band", "bb.bucket")


def minhash_lsh_pairs_portable(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH with a CROSS-ENGINE-DETERMINISTIC hash family, so the
    full pipeline is oracle-checkable (unlike the xxhash64 fast path).

    Base hash: first 28 bits of sha256(shingle) — computable identically
    in any engine with sha256 + hex parsing. Permutations: the classic
    Carter-Wegman family ``h_i = (a_i*base + b_i) mod p`` with fixed
    odd ``a_i``; all arithmetic stays within 63 bits (28-bit base x
    31-bit a), so plain BIGINT math reproduces bit-for-bit everywhere.
    Band buckets fold the r signature values with ``(acc*31+v) & 2^31-1``.
    Estimated Jaccard = matching-signature fraction (an exact multiple
    of 1/num_hashes — no float divergence).

    Slower than :func:`minhash_lsh_pairs` (sha256 + Catalyst shingle
    expressions); use for verification, the xxhash64 path for scale.
    Shares :func:`minhash_lsh_pairs`' scale guards: signature-identical
    collapse (always on — members of a signature-identical cluster are
    emitted as min-id-representative star edges with ``est_jaccard``
    1.0, the exact score the join would compute) and the DEFAULT-ON
    ``max_bucket_size`` star-reduction of oversized band buckets
    (``None`` → ``cache.auto_bucket_cap``; ``0`` opts out).
    """
    assert num_hashes % bands == 0
    if max_bucket_size is None:
        max_bucket_size = auto_bucket_cap(df)
    elif max_bucket_size < 0:
        raise ValueError("max_bucket_size must be >= 0 (0 = uncapped)")
    # size-gated persist, same two-consumer reason as minhash_lsh_pairs
    sig = maybe_persist(
        minhash_signatures_portable(df, num_hashes, text_col, id_col, shingle_n)
    )
    cand = _portable_candidates(sig, num_hashes, bands, max_bucket_size)
    return cand.filter(F.col("est_jaccard") >= threshold)


TOKENFOLD_A = 1_000_003  # odd rolling-hash multiplier (tokenfold family)


def minhash_signatures_tokenfold(
    df: DataFrame,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-engine-deterministic MinHash signatures with the FAST
    portable base: sha256 hashes run once per TOKEN (28-bit prefix,
    same rule as :func:`minhash_signatures_portable`'s shingle base)
    and each shingle's base is the integer rolling fold
    ``acc = (acc * 1_000_003 + token_base) mod 2147483629`` over its
    ``shingle_n`` token bases — all 63-bit-safe BIGINT math, so any
    engine (and the numpy stream kernel) reproduces it bit-for-bit.

    Why it's the fast family: the sha256 count drops from one per
    DISTINCT SHINGLE (~n per doc, nearly all distinct corpus-wide) to
    one per DISTINCT TOKEN (the vocabulary — orders of magnitude
    smaller), and the shingle combination becomes pure vectorizable
    integer math; no shingle strings are ever materialized. The trade:
    base collisions now come from a 31-bit rolling fold instead of a
    sha256 prefix — same collision class (the 28-bit prefix already
    truncates), harmless under the min-aggregation.

    Plan shape: the token hashing and the fold are ONE higher-order
    ``transform`` pass per row (Catalyst HOFs are interpreted, so the
    plan keeps exactly one; a first draft computed the 16 permutation
    minima as 16 more ``array_min(transform(...))`` passes and measured
    6.7x SLOWER than the sha pipeline at 2M docs), then the bases
    explode into the same codegen'd 16-way min groupBy the sha family
    uses. Docs with fewer than ``shingle_n`` tokens have no shingles
    and emit no row (same contract as the sha family)."""
    tks = tokens(F.col(text_col))
    tb = F.transform(
        tks,
        lambda t: F.conv(F.substring(F.sha2(t, 256), 1, 7), 16, 10).cast(
            "long"
        ),
    )

    def fold(i):
        acc = F.lit(0).cast("long")
        for j in range(shingle_n):
            acc = (
                acc * TOKENFOLD_A + F.element_at(F.col("__tb"), i + j + 1)
            ) % MINHASH_PRIME
        return acc

    # sequence(0, size-n) is DESCENDING for size < n (ANSI trap) —
    # guard short docs to an empty base array explicitly
    bases = F.when(
        F.size(F.col("__tb")) >= shingle_n,
        F.transform(
            F.sequence(F.lit(0), F.size(F.col("__tb")) - shingle_n), fold
        ),
    ).otherwise(F.array().cast("array<long>"))
    sh = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("doc"), tb.alias("__tb"))
        .select("doc", F.explode(bases).alias("b"))
    )
    base = F.col("b")
    mins = [
        F.min((F.lit(2 * i + 1) * base + F.lit(7919 * i)) % MINHASH_PRIME).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc").agg(*mins)


def _sig_rep_portable(sig: DataFrame, num_hashes: int) -> DataFrame:
    """Attach ``__rep`` = min doc among identical portable signatures —
    the signature-identical collapse key shared by
    :func:`_portable_candidates` and :func:`dedup_audit` (the audit's
    strata run over representatives so it measures exactly the
    collapsed screen that ships)."""
    return sig.withColumn(
        "__rep",
        F.min("doc").over(
            Window.partitionBy(*[f"h{i}" for i in range(num_hashes)])
        ),
    )


def _portable_candidates(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs with estimated Jaccard from a portable signature
    table: ``(doc_a, doc_b, est_jaccard)``, one row per distinct pair —
    the shared candidate-generation stage of
    :func:`minhash_lsh_pairs_portable` and :func:`dedup_audit` (kept
    in one place so the audit can never drift from the screen it
    audits, the ``_portable_banded_vecs`` discipline).

    Emits the union of (a) signature-identical star edges
    ``(rep, member, 1.0)``, (b) bucket-min star edges for band buckets
    over ``max_bucket_size`` (``0``/``None`` here = uncapped — PUBLIC
    callers resolve the auto default before calling), and (c) the band
    self-join over representatives in small-enough buckets. See
    :func:`minhash_lsh_pairs` for the scale rationale."""
    sigr = _sig_rep_portable(sig, num_hashes)
    hcols = [f"h{i}" for i in range(num_hashes)]
    star = sigr.filter(F.col("doc") != F.col("__rep")).select(
        F.col("__rep").alias("doc_a"),
        F.col("doc").alias("doc_b"),
        F.lit(1.0).alias("est_jaccard"),
    )
    reps = sigr.filter(F.col("doc") == F.col("__rep")).drop("__rep")
    banded = _banded_portable(reps, num_hashes, bands)
    if max_bucket_size:
        wb = Window.partitionBy("band", "bucket")
        sized = banded.withColumn("__n", F.count(F.lit(1)).over(wb)).withColumn(
            "__m", F.min(F.struct("doc", *hcols)).over(wb)
        )
        m_matches = sum(
            F.when(F.col(f"__m.h{i}") == F.col(f"h{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        )
        bucket_star = sized.filter(
            (F.col("__n") > max_bucket_size) & (F.col("doc") != F.col("__m.doc"))
        ).select(
            F.col("__m.doc").alias("doc_a"),
            F.col("doc").alias("doc_b"),
            (m_matches.cast("double") / num_hashes).alias("est_jaccard"),
        )
        banded = sized.filter(F.col("__n") <= max_bucket_size).drop("__n", "__m")
        star = star.unionByName(bucket_star)
    a, b = banded.alias("a"), banded.alias("b")
    matches = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc") < F.col("b.doc")),
    ).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        (matches.cast("double") / num_hashes).alias("est_jaccard"),
    )
    return cand.unionByName(star).dropDuplicates(["doc_a", "doc_b"])


def dedup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    corpus_signatures: DataFrame | None = None,
    hash_family: str = "sha256",
) -> DataFrame:
    """Incremental ingestion screen: drop NEW documents that near-match
    ANY existing corpus document (LSH candidate + estimated Jaccard >=
    threshold). Returns the surviving ``new_docs`` rows, all columns.

    ``hash_family`` selects the portable signature base — ``"sha256"``
    (per-shingle sha256 prefix, :func:`minhash_signatures_portable`) or
    ``"tokenfold"`` (per-token sha256 + integer rolling fold,
    :func:`minhash_signatures_tokenfold` — the fast family; both sides
    of a screen MUST use the same family, so pass the family that
    built ``corpus_signatures``).

    This is the shape continuous training-data ingestion actually
    needs: the corpus is screened ONCE into a signature table
    (:func:`minhash_signatures_portable`, pass it as
    ``corpus_signatures``), and each arriving batch pays only
    |batch| signature computations plus a band equi-join against the
    stored signatures — corpus text is never re-read, and the join
    moves (band, bucket) triples, not documents. Bucket/partition the
    stored signature table on (band, bucket) to make the per-batch
    join shuffle-free on the corpus side at 100 TB.

    Within-batch duplicates are NOT screened here (two new near-dup
    docs both survive if neither matches the corpus) — run one of the
    pair operators on the batch first if that matters.
    """
    assert num_hashes % bands == 0
    if hash_family == "sha256":
        sig_fn = minhash_signatures_portable
    elif hash_family == "tokenfold":
        sig_fn = minhash_signatures_tokenfold
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    if corpus_signatures is None:
        if corpus is None:
            raise ValueError("pass either corpus or corpus_signatures")
        corpus_signatures = sig_fn(
            corpus, num_hashes, text_col, id_col, shingle_n
        )
    nsig = maybe_persist(
        sig_fn(new_docs, num_hashes, text_col, id_col, shingle_n)
    )
    # screen against DISTINCT corpus signatures: est_jaccard is a pure
    # function of the two signatures, so duplicate corpus sigs cannot
    # change whether a new doc matches — but they DO multiply the band
    # join's matched rows by the copy count (a c-copy boilerplate
    # cluster makes every colliding arrival pay c rows). Exact
    # equivalence, strictly smaller join.
    corpus_distinct = corpus_signatures.dropDuplicates(
        [f"h{i}" for i in range(num_hashes)]
    )
    nb = _banded_portable(nsig, num_hashes, bands).alias("a")
    cb = _banded_portable(corpus_distinct, num_hashes, bands).alias("b")
    matches = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    matched = (
        nb.join(
            cb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.doc").alias("doc"),
            (matches.cast("double") / num_hashes).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc")
        .distinct()
    )
    return new_docs.join(
        matched, new_docs[id_col] == matched["doc"], "left_anti"
    )


def triangle_counts(
    edges: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Per-node triangle participation over an undirected pair graph →
    (node, n_triangles), nodes in >= 1 triangle only.

    Triangles measure clique-ness of near-dup clusters (a component of
    k mutual near-dups has C(k,3); a chain has none) — the standard
    second-order signal after :func:`connected_components`.

    Plan: canonicalize edges to a<b, enumerate wedges by self-joining
    edges on the shared LOWEST vertex (a<b, a<c, b<c — each unordered
    triangle once), close them against the edge set. Two equi-joins.
    Wedge volume is Σ_a deg_min(a)², where deg_min counts neighbors
    ABOVE a in the ordering — the id-orientation bound; for power-law
    near-dup graphs swap the ordering key to (degree, id) orientation
    for the O(m^1.5) compact-forward bound (same joins, one extra
    degree agg + broadcast).
    """
    e = (
        edges.select(
            F.least(F.col(id_a), F.col(id_b)).alias("u"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )
    e = maybe_persist(e)
    w = (
        e.alias("e1")
        .join(e.alias("e2"), (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tri = w.join(
        e.alias("e3"),
        (F.col("b") == F.col("e3.u")) & (F.col("c") == F.col("e3.v")),
    ).select("a", "b", "c")
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    round_to: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank over the (undirected) pair graph →
    (node, rank). Centrality within a near-dup cluster picks its most
    "canonical" member — the keep-policy signal ``dedup_keep_best``
    approximates with per-doc features.

    Each iteration is one join (ranks onto out-edges) + one aggregation
    (sum contributions per destination) — the same primitives as
    :func:`connected_components`, with ``localCheckpoint`` truncating
    lineage so iteration N does not replan 1..N-1. A FIXED iteration
    count (not convergence-to-epsilon) keeps the result a deterministic
    closed form, reproducible as ``iters`` chained CTEs in plain SQL —
    how the harness hash-checks an "iterative" algorithm. Ranks are
    un-normalized (init 1.0/node, sum ≈ node count), matching the
    classic formulation.
    """
    und = (
        edges.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
        .unionAll(edges.select(F.col(id_b).alias("s"), F.col(id_a).alias("d")))
        .distinct()
    )
    und = maybe_persist(und.localCheckpoint(eager=False))
    deg = und.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg"))
    out = und.join(deg, "s")
    nodes = und.select(F.col("s").alias("node")).distinct()
    r = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(iters):
        contribs = (
            out.join(r, out["s"] == r["node"])
            .select(F.col("d"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("csum"))
        )
        r = (
            nodes.join(contribs, nodes["node"] == contribs["d"], "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("csum"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return r.select("node", F.round("rank", round_to).alias("rank"))


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Fixed-iteration label propagation communities over the
    (undirected) pair graph → (node, label).

    Where :func:`connected_components` answers "which docs are
    transitively linked at all", LPA answers "which docs form DENSE
    communities" — a chain of borderline near-dups stays one component
    but splits into communities, the right granularity for choosing
    dedup keep-groups in stringy graphs. Raghavan et al. 2007, made
    deterministic: every round each node adopts the most frequent label
    among its neighbors AND itself (the self-vote damps the classic
    synchronous-update oscillation — without it a single edge {a,b}
    swaps labels forever), ties broken by SMALLEST label, all nodes
    updating synchronously from the previous round's labels.

    Each round is one equi-join (labels onto edges) + one
    (node, label) count + a per-node rank over the node's DISTINCT
    neighbor labels — bounded by degree, never graph-sized, so no
    single-task window. ``localCheckpoint`` truncates lineage per
    round. A FIXED iteration count keeps the result a deterministic
    closed form, reproducible as ``iters`` chained CTEs in SQL (how
    the harness hash-checks it). Isolated nodes don't appear (the
    edge graph defines the population).
    """
    from pyspark.sql import Window as W

    e = edges.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
    sym = e.unionAll(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    # self-loops implement the self-vote
    und = (
        sym.unionAll(
            sym.select(F.col("s"), F.col("s").alias("d"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab = und.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    rank_w = W.partitionBy("n").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )
    for _ in range(iters):
        lab = (
            und.join(lab, und["s"] == lab["node"])
            .groupBy(F.col("d").alias("n"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(rank_w))
            .filter(F.col("rn") == 1)
            .select(F.col("n").alias("node"), "label")
            .localCheckpoint(eager=False)
        )
    return lab


def label_propagation_oracle_sql(edges_sql: str, iters: int = 3) -> str:
    """DuckDB twin of :func:`label_propagation`: the same fixed rounds
    as chained CTEs over an edge subquery producing (doc_a, doc_b)."""
    rounds = []
    for i in range(1, iters + 1):
        prev = "l0" if i == 1 else f"l{i - 1}"
        rounds.append(f"""l{i} AS (
    SELECT n AS node, label FROM (
        SELECT und.d AS n, {prev}.label,
               row_number() OVER (
                   PARTITION BY und.d
                   ORDER BY count(*) DESC, {prev}.label
               ) AS rn
        FROM und JOIN {prev} ON {prev}.node = und.s
        GROUP BY und.d, {prev}.label
    ) WHERE rn = 1
)""")
    chain = ",\n".join(rounds)
    return f"""
WITH edges AS ({edges_sql}),
und AS (
    SELECT doc_a AS s, doc_b AS d FROM edges
    UNION SELECT doc_b, doc_a FROM edges
    UNION SELECT doc_a, doc_a FROM edges
    UNION SELECT doc_b, doc_b FROM edges
),
l0 AS (SELECT DISTINCT s AS node, s AS label FROM und),
{chain}
SELECT node, label FROM l{iters}
"""


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    node_id: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph →
    ``(doc_id, component)`` with component = min doc id in the group.

    Min-label propagation: each round every node takes the min label
    among itself and its neighbors; converges in O(graph diameter)
    rounds (near-dup clusters are shallow — a handful of rounds).
    Each round is one equi-join + one groupBy; ``localCheckpoint``
    truncates the growing lineage so round N doesn't replan rounds
    1..N-1. At billion-edge scale swap in the large-star/small-star
    alternation (same join primitives, fewer rounds on skewed graphs).

    ``nodes``: full node set (singletons get their own component); when
    None, inferred from the edge endpoints only.
    """
    e = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # materialize the edge set ONCE — without this every round re-runs
    # the (possibly expensive) upstream pair-generation plan; at cluster
    # scale use reliable checkpointing / a persisted table instead
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    if nodes is None:
        ids = sym.select(F.col("src").alias("id")).distinct()
    else:
        ids = nodes.select(F.col(node_id).alias("id"))
    labels = ids.select("id", F.col("id").alias("label")).localCheckpoint(eager=True)
    for _ in range(max_iter):
        nbr = (
            sym.join(labels, sym.dst == labels.id)
            .select(F.col("src").alias("id"), "label")
        )
        # one checkpointed round result carries (new label, old label) so
        # the convergence count re-reads the materialized rows instead of
        # re-running the round's join
        merged = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .join(labels.withColumnRenamed("label", "__old"), "id")
            .localCheckpoint(eager=True)
        )
        n_changed = merged.filter(F.col("label") != F.col("__old")).count()
        labels = merged.select("id", "label")
        if n_changed == 0:
            break
    return labels.select(F.col("id").alias(node_id), F.col("label").alias("component"))


def _bit_vote(h, bit: int):
    return F.aggregate(
        h,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.when(F.shiftright(x, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
    )


def simhash64(toks) -> "F.Column":
    """64-bit SimHash of a token array: per-bit majority vote of token
    xxhash64 bits, packed to one long (bit 63 lands in the sign bit via
    shiftleft). Pure bit arithmetic, no UDF."""
    h = F.transform(toks, lambda t: F.xxhash64(t))
    out = F.lit(0).cast("long")
    for bit in range(64):
        vote_bit = F.when(_bit_vote(h, bit) > 0, F.lit(1)).otherwise(F.lit(0))
        out = out.bitwiseOR(F.shiftleft(vote_bit.cast("long"), bit))
    return out


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> tuple[DataFrame, int]:
    """``(signatures, width)``: per-doc SimHash by explode + ONE groupBy
    with `width` conditional-sum aggregates — fully codegen'd, unlike
    the per-row higher-order fold of :func:`simhash64` (interpreted,
    ~1 ms/doc). Token multiplicity weights votes (same as simhash64).

    hash_family='xxhash64': 64-bit JVM hash (fast path).
    hash_family='portable': 60-bit sha256-prefix hash reproducible in
    any engine — the oracle-checkable variant.
    """
    tok = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    if hash_family == "portable":
        width = 60
        h = F.conv(F.substring(F.sha2(F.col("t"), 256), 1, 15), 16, 10).cast("long")
    elif hash_family == "xxhash64":
        width = 64
        h = F.xxhash64(F.col("t"))
    else:
        raise ValueError(f"unknown hash_family: {hash_family}")
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(width)
    ]
    agg = tok.groupBy("doc").agg(*votes)
    sig = F.lit(0).cast("long")
    for j in range(width):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        sig = sig.bitwiseOR(F.shiftleft(bit, j))  # bit 63 -> sign bit, as in simhash64
    return agg.select("doc", sig.alias("sig")), width


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= max_hamming via the block
    trick: split the signature into max_hamming+1 blocks; any pair
    within distance k must match exactly on >= 1 block → one equi-join
    per block, unioned, distinct, then exact distance filter.

    Scale note (same occupancy law as LSH band width): each block carries
    ``width/(max_hamming+1)`` bits, so UNRELATED docs collide on a block
    with probability ``2^-block_bits`` — at 64-bit signatures and
    max_hamming=3 that is 16 bits (~65k buckets/block), comfortable to
    ~10M docs (occupancy ~n/65k per block). Beyond that, raise the
    signature width (simhash with 128-bit hashes) or lower max_hamming
    so block width grows — a fixed block width eventually sends the
    block join quadratic exactly like a fixed LSH band width.

    Signature-identical collapse (always on, the
    :func:`minhash_lsh_pairs` discipline): docs sharing the entire
    64-bit signature — distance 0, colliding in EVERY block — collapse
    to their min-id representative before the block join and emit
    ``(rep, member, hamming=0)`` star edges, bounding a c-member
    signature-identical cluster at c-1 edges instead of c(c-1)/2.
    """
    # size-gated persist, same two-consumer reason as minhash_lsh_pairs:
    # the block self-join reads the (doc, sig) table twice
    sig, sigwidth = simhash_signatures(df, text_col, id_col, hash_family)
    return hamming_pairs(
        maybe_persist(sig), max_hamming=max_hamming, width=sigwidth
    )


def hamming_pairs(
    sig: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc",
    sig_col: str = "sig",
    width: int = 64,
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` over an ARBITRARY
    packed-bit signature table ``(id, sig)`` via the block trick —
    the banding stage shared by :func:`simhash_pairs` (text SimHash)
    and ``operators.multimodal.phash_neardup`` (image average-hash):
    any pair within distance k matches exactly on >= 1 of the k+1
    signature blocks, so candidates come from one equi-join per block
    and the exact ``bit_count(xor)`` filter runs only on candidates.

    Signature-identical collapse (always on, sound here because
    Hamming distance IS a pure function of the two signatures —
    identical sigs are distance 0 from each other and equidistant from
    everything else): identical-signature docs collapse to min-id star
    edges ``(rep, member, 0)`` and only representatives enter the
    block join. Output: ``(doc_a, doc_b, hamming)``.

    When ``width`` doesn't divide evenly, the ``width mod (k+1)`` top
    bits are not banded — recall is still guaranteed (differing bits
    among the BANDED region are <= the total <= k, so some block is
    clean by pigeonhole); the unbanded bits just don't help separate
    buckets, marginally raising candidate volume.
    """
    nblocks = max_hamming + 1
    sig = sig.select(
        F.col(id_col).alias("doc"), F.col(sig_col).alias("sig")
    )
    sigr = sig.withColumn("__rep", F.min("doc").over(Window.partitionBy("sig")))
    star = sigr.filter(F.col("doc") != F.col("__rep")).select(
        F.col("__rep").alias("doc_a"),
        F.col("doc").alias("doc_b"),
        F.lit(0).cast("integer").alias("hamming"),
    )
    sig = sigr.filter(F.col("doc") == F.col("__rep")).drop("__rep")
    bwidth = width // nblocks
    blocks = sig.select(
        "doc",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("block"),
                        F.shiftright(F.col("sig"), bi * bwidth)
                        .bitwiseAND(F.lit((1 << bwidth) - 1))
                        .alias("key"),
                    )
                    for bi in range(nblocks)
                ]
            )
        ).alias("bb"),
    ).select("doc", "sig", "bb.block", "bb.key")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .unionByName(star)
    )


def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/eval contamination check: per eval document, what fraction
    of its distinct n-gram shingles also appears ANYWHERE in the
    training corpus (the standard benchmark-leakage screen for LLM
    training sets — e.g. the 13-gram overlap checks used for GPT-style
    dataset decontamination; n is a knob because this synthetic corpus
    has short docs).

    Plan shape (never pairwise): the train side is reduced to its
    DISTINCT shingle set (map-side-combinable dedup — the quadratic
    doc×doc blowup of a pair join never exists), eval shingles
    LEFT SEMI join against it (Spark builds/partitions only the shingle
    key, no payload), then one groupBy(eval doc) counts matches.
    Output: ``(doc_id, n_ngrams, n_contaminated, contaminated_frac)``
    per eval doc, including 0-overlap docs.

    Shingles travel as 8-byte xxhash64 hashes (the pure-JVM
    :func:`shingle_hashes_jvm` path, same as the Jaccard join) — the
    semi-join keys and the per-doc distinct counts are identical to the
    string form up to 64-bit collisions (negligible at any corpus
    size). At 100 TB the semi-join shuffles those 8-byte keys only; for
    repeated screening you'd persist the train shingle set bucketed by
    shingle.
    """
    ev = ensure_parallelism(eval_df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingle_hashes_jvm(F.col(text_col), n)).alias("sh"),
    )
    tr = (
        ensure_parallelism(train)
        .select(F.explode(shingle_hashes_jvm(F.col(text_col), n)).alias("sh"))
        .distinct()
    )
    totals = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ngrams"))
    hits = (
        ev.join(tr, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .na.fill(0, ["n_contaminated"])
        .select(
            "doc_id",
            "n_ngrams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_ngrams"), 6).alias(
                "contaminated_frac"
            ),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup that keeps the HIGHEST-SCORING copy per content hash
    (ties → min id) — the usual corpus-curation refinement over
    :func:`dedup_exact`'s min-id rule when copies differ in metadata
    (source quality, crawl recency).

    Same scale shape as ``dedup_exact``: one groupBy on the 32-byte
    hash; ``max_by`` on a (score, -id) struct picks the winner in the
    partial aggregate, so full rows never pile up in state.
    """
    h = F.sha2(F.col(text_col), 256)
    rank = F.struct(F.col(score_col).alias("s"), (-F.col(id_col)).alias("negid"))
    keep = F.struct(F.col(id_col).alias("id"), F.col(score_col).alias("score"))
    return (
        df.select(h.alias("content_hash"), keep.alias("__k"), rank.alias("__r"))
        .groupBy("content_hash")
        .agg(
            F.max_by("__k", "__r").alias("__best"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "content_hash",
            F.col("__best.id").alias(id_col),
            F.col("__best.score").alias(score_col),
            "n_copies",
        )
    )


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node's STRICTLY LARGER neighbors are
    re-linked to the min of its closed neighborhood. Input/output edges
    are oriented (u > v); output keeps that invariant (emitted (v, m)
    has v > u >= m)."""
    nbrs = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    closed = nbrs.union(nbrs.select("u", F.col("u").alias("v")).distinct())
    m = closed.groupBy("u").agg(F.min("v").alias("m"))
    return (
        nbrs.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: every node's smaller neighbors (and the
    node itself) link to the min neighbor. Input oriented (u > v);
    output preserves orientation."""
    m = edges.groupBy("u").agg(F.min("v").alias("m"))
    nb = edges.join(m, "u")
    relinked = nb.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_link = m.select("u", F.col("m").alias("v"))
    return (
        relinked.union(self_link)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    node_id: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via the LARGE-STAR / SMALL-STAR alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    same output contract as :func:`connected_components`.

    Why a second algorithm: min-label propagation needs O(diameter)
    rounds — fine for shallow near-dup clusters, ruinous for chain-
    shaped graphs (a 10^6-node path needs 10^6 rounds). The star
    alternation contracts components to stars in O(log n) rounds on ANY
    topology, each round two groupBy/join passes over an edge set that
    only shrinks. This is the billion-edge default; the propagation
    variant remains for tiny shallow graphs where its per-round cost
    (one join, not two star passes) wins.

    Convergence is detected with one tiny agg per round (edge count +
    order-insensitive xxhash64 sum); every round localCheckpoints so
    lineage stays flat.
    """
    e = (
        edges.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_iter):
        e = _cc_small_star(_cc_large_star(e)).localCheckpoint(eager=True)
        sig = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: exact, order-insensitive, and (unlike a long
            # sum of xxhash64) cannot overflow under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # stars: u -> root(v); roots + singletons label themselves
    if nodes is None:
        ids = (
            e.select(F.col("u").alias("id"))
            .union(e.select(F.col("v").alias("id")))
            .distinct()
        )
    else:
        ids = nodes.select(F.col(node_id).alias("id"))
    labels = (
        e.select(F.col("u").alias("id"), F.col("v").alias("label"))
        .unionByName(ids.select("id", F.col("id").alias("label")))
        .groupBy("id")
        .agg(F.min("label").alias("component"))
    )
    return labels.select(F.col("id").alias(node_id), "component")


def components_merge(
    saved_labels: DataFrame,
    new_pairs: DataFrame,
    new_nodes: DataFrame | None = None,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    node_id: str = "doc_id",
    comp_col: str = "component",
    max_iter: int = 50,
) -> DataFrame:
    """INCREMENTAL connected-components maintenance: fold a batch of
    new near-dup pairs (and optionally new documents) into a SAVED
    label table without recomputing components from scratch — the
    companion of :func:`dedup_against_corpus` /
    ``streaming.dedup_stream.stream_neardup_screen`` +
    ``sources.models.save_model_tables`` for the "corpus grows
    nightly" loop, the same retrain-free pattern as
    ``plans.selection.merge_char_lm_tables``.

    EXACTLY equals the batch recompute: because every saved component
    label is the component's min doc id (the
    :func:`connected_components` / :func:`connected_components_star`
    contract), contracting each old component to its label node and
    running components over (contracted new edges) yields the same
    min-id per merged component as a full rerun over all pairs old and
    new — asserted in tests against N chunked merges.

    Plan shape — work scales with the CHANGE, not the corpus:
    two hash joins map new-pair endpoints to their saved labels
    (unlabeled endpoints are new docs and stand for themselves); the
    star-contraction CC then runs on the CONTRACTED subgraph only
    (<= |new_pairs| edges over affected component reps + new docs —
    the |changed-components| subgraph, not the corpus graph); one
    final join applies the (affected reps)-sized relabel map back to
    the saved table, broadcastable in the common case. Untouched
    components pass through byte-identical.

    ``new_nodes`` labels isolated arriving docs (no pair) with
    themselves, matching the batch operators' ``nodes=`` behavior.
    Output: the updated ``(doc_id, component)`` table — feed it back
    to ``save_model_tables`` for the next increment.
    """
    lab = saved_labels.select(
        F.col(node_id).alias("id"), F.col(comp_col).alias("label")
    )
    e = (
        new_pairs.select(F.col(id_a).alias("__a"), F.col(id_b).alias("__b"))
        .join(
            lab.select(F.col("id").alias("__a"), F.col("label").alias("__la")),
            "__a",
            "left",
        )
        .join(
            lab.select(F.col("id").alias("__b"), F.col("label").alias("__lb")),
            "__b",
            "left",
        )
        .select(
            F.coalesce("__la", F.col("__a")).alias("u"),
            F.coalesce("__lb", F.col("__b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )
    # components over the contracted (affected-only) subgraph; reps are
    # old labels and new doc ids, so the resulting min IS the merged
    # component's global min id
    sub = connected_components_star(
        e, nodes=None, id_a="u", id_b="v", node_id="rep", max_iter=max_iter
    ).localCheckpoint(eager=False)
    relabel = sub.select(
        F.col("rep").alias("label"), F.col("component").alias("__new")
    )
    old = lab.join(relabel, "label", "left").select(
        F.col("id").alias(node_id),
        F.coalesce("__new", F.col("label")).alias(comp_col),
    )
    # reps of the contracted graph that are NOT saved doc ids are new
    # docs — their sub row is their label (old labels are themselves
    # saved doc ids, so the anti-join removes exactly them)
    fresh = sub.join(
        lab.select(F.col("id").alias("rep")), "rep", "left_anti"
    ).select(F.col("rep").alias(node_id), F.col("component").alias(comp_col))
    out = old.unionByName(fresh)
    if new_nodes is not None:
        iso = (
            new_nodes.select(F.col(node_id))
            .distinct()
            .join(out.select(node_id), node_id, "left_anti")
            .select(F.col(node_id), F.col(node_id).alias(comp_col))
        )
        out = out.unionByName(iso)
    return out


def duplicated_spans(
    docs: DataFrame,
    k: int = 40,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_df: int | None = None,
    wide_hash: bool = False,
) -> DataFrame:
    """Exact-substring duplicate spans, the distributed approximation
    of suffix-array dedup [Lee et al., ACL 2022, "Deduplicating
    Training Data Makes Language Models Better"]: every doc position
    opens a k-char window; a window whose exact text occurs in >=
    ``min_docs`` DISTINCT docs is duplicated; per doc, overlapping
    duplicated windows merge into maximal spans (so a shared 200-char
    passage reports as ONE span, not 161 windows).

    Output: (doc_id, span_start 1-based, span_end inclusive,
    n_windows) per maximal duplicated span.

    Scale shape: the window stream is ~total_chars rows but each row
    shrinks to (id, pos, 8-byte md5-prefix hash) before the shuffle —
    the gram TEXT never leaves the map side. Hot-gram df is bounded
    by the distinct-doc aggregation (count-distinct on a 60-bit key,
    map-side partial); the span merge is a per-doc window — parallel
    across docs. The 60-bit hash admits ~2^-60 false-positive window
    collisions (vs the paper's exact suffix array) — pass
    ``wide_hash=True`` for a 120-bit two-prefix key when corpus-scale
    window counts (~10^14 at 100 TB) make that bound matter.

    ``max_gram_df``: a boilerplate gram shared by EVERY doc (headers,
    license banners) costs |docs| join rows for that gram — the same
    inverted-index cost law as `ngram_jaccard_pairs`. Setting the cap
    drops grams whose distinct-doc count EXCEEDS it before the span
    join, bounding per-gram fan-out at the cost of not reporting spans
    made ONLY of ubiquitous boilerplate (a deliberate recall trade —
    such passages are usually removed by a dedicated boilerplate pass,
    not span surgery). None (default) keeps exact Lee-et-al semantics.
    """
    wins = _gram_windows(docs, k, id_col, text_col, wide_hash)
    hot = (
        wins.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
    )
    if max_gram_df is not None:
        hot = hot.filter(F.col("nd") <= max_gram_df)
    dup = wins.join(hot.select("gh"), "gh").select(id_col, "pos")
    return _merge_islands(dup, k, id_col)


def _gram_windows(
    docs: DataFrame,
    k: int,
    id_col: str,
    text_col: str,
    wide_hash: bool = False,
) -> DataFrame:
    """(id, pos, gh): every 1-based doc position's k-char window as a
    60-bit md5-prefix hash — the text never crosses the shuffle.
    ``wide_hash`` keys each window on TWO independent 60-bit prefixes
    (a struct; 120 bits total) — at 100 TB window counts (~10^14) the
    single-prefix birthday bound (~2^-60 per pair) stops being
    negligible, the doubled key restores it, at 2x the shuffled key
    bytes."""
    from multi_sensor_data_pipeline_for_robotics__spark.functions.sketch import (
        kmv_hash,
    )

    n_win = F.length(text_col) - F.lit(k - 1)
    # docs shorter than k have NO windows. The guard matters: Spark's
    # sequence(1, n) DESCENDS when n < 1 (sequence(1, 0) = [1, 0]), so
    # an unguarded short/empty doc would emit phantom windows hashing
    # its full text — and remove_duplicated_spans would then erase
    # whole short duplicate docs the contract says it cannot touch
    # (same trap linkage.py's _one_deletions guards against).
    positions = F.when(
        F.length(text_col) >= k, F.sequence(F.lit(1), n_win)
    ).otherwise(F.array().cast("array<int>"))

    def gram_key(p):
        g = F.substring(F.col(text_col), p, F.lit(k))
        if wide_hash:
            return F.struct(
                kmv_hash(g).alias("h1"),
                kmv_hash(F.concat(g, F.lit("#w"))).alias("h2"),
            )
        return kmv_hash(g)

    # widen a one-file scan first: the per-position substring+md5
    # projection is the operator's dominant CPU (measured 2 x ~3 s
    # single-task stages at sf0.1 — the window stream has two
    # consumers) and parallelizes embarrassingly; the round-robin
    # exchange below the projection is also the subtree both consumers
    # share, so at any scale the doc text moves once
    wins = ensure_parallelism(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(
            F.transform(
                positions,
                lambda p: F.struct(p.alias("pos"), gram_key(p).alias("gh")),
            )
        ).alias("w"),
    ).select(id_col, F.col("w.pos").alias("pos"), F.col("w.gh").alias("gh"))
    return maybe_persist(wins)


def _merge_islands(dup: DataFrame, k: int, id_col: str) -> DataFrame:
    """Merge overlapping fixed-length windows (id, pos) into maximal
    spans: ends are monotone in pos, so a new island starts when the
    gap to the previous window exceeds k."""
    from pyspark.sql import Window as W

    ww = W.partitionBy(id_col).orderBy("pos")
    island = F.sum(
        F.when(
            F.col("pos") - F.lag("pos").over(ww) > k, F.lit(1)
        ).otherwise(F.lit(0))
    ).over(ww)
    return (
        dup.withColumn("__i", island)
        .groupBy(id_col, "__i")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def remove_duplicated_spans(
    docs: DataFrame,
    k: int = 40,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_gram_df: int | None = None,
    wide_hash: bool = False,
) -> DataFrame:
    """The surgical half of Lee et al.'s substring dedup: CUT each
    cross-doc duplicated passage out of every doc EXCEPT the canonical
    copy (the lowest doc id containing that gram), so exactly one
    occurrence survives the corpus. Window-level keeper rule: a window
    is cut iff its doc id differs from its gram's min doc id; cut
    windows merge into maximal spans (:func:`_merge_islands`), and the
    spans are excised by one fold over the doc's sorted span array —
    no per-char processing, no UDFs.

    Output: (doc_id, cleaned_text, n_spans_cut, chars_cut) — one row
    per input doc, untouched docs pass through with 0/0.

    Scale shape: identical to :func:`duplicated_spans` (the same
    window stream and distinct-doc aggregation, plus a min(doc_id)
    that rides the same groupBy) up to the final doc-keyed join of the
    tiny span table back onto the corpus — a hash join on doc id whose
    build side holds only docs that lose at least one span.
    ``max_gram_df`` bounds boilerplate-gram fan-out and ``wide_hash``
    doubles the gram key exactly as in :func:`duplicated_spans`
    (capped grams are left in place in every doc rather than excised
    everywhere-but-one).
    """
    wins = _gram_windows(docs, k, id_col, text_col, wide_hash)
    hot = (
        wins.groupBy("gh")
        .agg(
            F.count_distinct(F.col(id_col)).alias("nd"),
            F.min(F.col(id_col)).alias("__keeper"),
        )
        .filter(F.col("nd") >= min_docs)
    )
    if max_gram_df is not None:
        hot = hot.filter(F.col("nd") <= max_gram_df)
    hot = hot.select("gh", "__keeper")
    cut = (
        wins.join(hot, "gh")
        .filter(F.col(id_col) != F.col("__keeper"))
        .select(id_col, "pos")
        # a position can be duplicated under SEVERAL grams' keeper
        # rules; the island merge needs each window once
        .distinct()
    )
    spans = _merge_islands(cut, k, id_col)
    sp = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__sp")
    )
    text = F.col(text_col)
    # fold over the sorted, non-overlapping spans: acc = (emitted text,
    # 1-based cursor); each span emits the gap before it and jumps the
    # cursor past it; finish emits the tail
    cleaned = F.aggregate(
        F.col("__sp"),
        F.struct(F.lit("").alias("o"), F.lit(1).cast("int").alias("c")),
        lambda acc, s: F.struct(
            F.concat(
                acc["o"],
                F.substring(text, acc["c"], s["span_start"] - acc["c"]),
            ).alias("o"),
            (s["span_end"] + 1).cast("int").alias("c"),
        ),
        lambda acc: F.concat(
            acc["o"], F.substring(text, acc["c"], F.length(text) - acc["c"] + 1)
        ),
    )
    return (
        docs.join(sp, id_col, "left")
        .withColumn(
            "cleaned_text",
            F.when(F.col("__sp").isNull(), text).otherwise(cleaned),
        )
        .select(
            F.col(id_col),
            "cleaned_text",
            F.when(F.col("__sp").isNull(), F.lit(0))
            .otherwise(F.size("__sp"))
            .cast("int")
            .alias("n_spans_cut"),
            (F.length(text) - F.length("cleaned_text"))
            .cast("long")
            .alias("chars_cut"),
        )
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    split_col: str = "split",
    n_buckets: int = 10_000,
    max_iter: int = 50,
) -> DataFrame:
    """Train/val/test assignment with a NO-LEAKAGE guarantee across
    near-duplicate links: rows that ``pairs`` connects (directly or
    transitively) always land in the SAME split, so a test document
    can never have a near-copy in train — the contamination mode a
    plain per-row hash split silently permits [Lee et al., ACL 2022
    measure it; the fix is splitting by duplicate CLUSTER].

    Composition: :func:`connected_components` over the pair graph
    (component = min linked id), then the deterministic cumulative
    hash-bucket split of ``functions.sampling.hash_split`` applied to
    the COMPONENT id — a pure function of the cluster, stable under
    rerun, engine, partitioning and corpus growth that doesn't touch a
    cluster. Rows past the last cumulative edge are dropped (weights
    summing to 1 keep everything), exactly like hash_split.

    Output: (id_col, component, split string). Scale shape: CC's
    log-diameter join rounds dominate; the split itself adds one
    sha256 projection — no extra shuffle.
    """
    from multi_sensor_data_pipeline_for_robotics__spark.functions.sampling import (
        hash_bucket,
    )

    total = sum(weights.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"split weights sum to {total} > 1")
    comp = connected_components(
        pairs, nodes=docs, id_a=id_a, id_b=id_b, node_id=id_col,
        max_iter=max_iter,
    )
    b = hash_bucket(F.col("component"), n_buckets)
    expr = None
    edge = 0
    for name, w in weights.items():
        edge += int(w * n_buckets)
        expr = F.when(b < edge, name) if expr is None else expr.when(
            b < edge, name
        )
    out = comp.select(id_col, "component", expr.alias(split_col))
    return out.filter(F.col(split_col).isNotNull())


def leakage_report(
    assign: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Quantify split contamination: the near-dup pair matrix BY split
    pair. ``assign`` maps ids to splits (any splitter's output);
    ``pairs`` is a near-dup edge list (Jaccard/MinHash/SemDeDup — any
    of this module's pair producers). Output one row per unordered
    split pair: (split_a, split_b, n_pairs, leaky) with ``leaky`` true
    when the splits differ — those pairs are test/val documents with a
    near-copy in another split, the contamination
    :func:`leakage_safe_split` exists to prevent (run this report on a
    NAIVE per-row split to measure what cluster-splitting buys; on a
    leakage-safe split every ``leaky`` count is zero by construction).

    Scale shape: two hash joins of the pair list against the (id,
    split) projection, then a groupBy over ≤ |splits|² rows. Pairs
    whose endpoints lack an assignment are dropped (inner joins) —
    they have no split to leak across.
    """
    a = assign.select(
        F.col(id_col).alias(id_a), F.col(split_col).alias("__sa")
    )
    b = assign.select(
        F.col(id_col).alias(id_b), F.col(split_col).alias("__sb")
    )
    j = pairs.join(a, id_a).join(b, id_b)
    return (
        j.groupBy(
            F.least("__sa", "__sb").alias("split_a"),
            F.greatest("__sa", "__sb").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .withColumn("leaky", F.col("split_a") != F.col("split_b"))
    )


def source_overlap_report(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    sim_col: str | None = None,
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    round_to: int = 6,
) -> DataFrame:
    """Where the near-duplicate mass lives ACROSS sources:
    (source_a, source_b, n_pairs[, avg_sim]) per unordered source pair
    — the curation diagnostic behind "is crawl B just mirroring crawl
    A" and "which feeds should dedup against each other first".
    Sources order lexicographically within each row so (A, B) and
    (B, A) aggregate together; same-source rows report intra-feed
    duplication.

    Plan: two thin (id, source) joins onto the pair table (the heavy
    mining already happened in ``pairs``) and one
    source-cardinality-bounded groupBy. ``sim_col`` (e.g.
    ``jaccard``/``est_jaccard``) adds a rounded mean similarity."""
    meta = docs.select(
        F.col(id_col).alias("__id"), F.col(source_col).alias("__src")
    )
    j = (
        pairs.join(meta, pairs[pair_a] == F.col("__id"))
        .select(pairs["*"], F.col("__src").alias("__sa"))
        .join(meta, F.col(pair_b) == F.col("__id"))
        .select(
            F.least("__sa", "__src").alias("source_a"),
            F.greatest("__sa", "__src").alias("source_b"),
            *([F.col(sim_col)] if sim_col else []),
        )
    )
    aggs = [F.count(F.lit(1)).alias("n_pairs")]
    if sim_col:
        aggs.append(F.round(F.avg(sim_col), round_to).alias("avg_sim"))
    return j.groupBy("source_a", "source_b").agg(*aggs)


def dedup_audit(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    collision_sample_mod: int = 1,
    random_buckets: int | None = None,
    round_to: int = 6,
    max_bucket_size: int | None = None,
    hash_family: str = "sha256",
) -> DataFrame:
    """Sampled precision/recall audit of the MinHash-LSH screen against
    EXACT Jaccard — the report a user needs to TUNE bands/threshold
    before a 100 TB dedup run ("are my bands letting false positives
    through? how much is the banding missing?").

    ``hash_family`` audits the matching screen variant — ``"sha256"``
    (:func:`minhash_signatures_portable`) or ``"tokenfold"``
    (:func:`minhash_signatures_tokenfold`, the fast family); the exact
    shingle-Jaccard truth side is family-independent, so the two
    audits are directly comparable ("does the fast family cost
    recall?").

    Two deterministic strata, both scored against exact shingle-set
    Jaccard (truth = ``exact_jaccard >= threshold``):

    * ``collision`` — the screen's own candidate pairs (band collisions
      over signature representatives plus the signature-identical and
      oversized-bucket star edges — exactly what the shipped,
      collapse-enabled screen compares), decision = estimated Jaccard
      (matching signature fraction) >= threshold.  Sampled by
      ``sha256(doc_a||'_'||doc_b) % collision_sample_mod == 0`` — a
      content-independent deterministic thinning for big corpora
      (``1`` = audit every candidate).
    * ``random_nocollision`` — hash-bucket neighbor pairs that the
      banding NEVER compares (decision = keep, always): signature
      REPRESENTATIVES (members of signature-identical clusters are
      screened through their representative, so auditing them as
      "missed" would be false) bucket by ``sha256(id) %
      random_buckets`` and pair all-vs-all within a bucket, minus any
      pair that also band-collides.  Bucket sizes are
      Poisson(n/``random_buckets``); ``random_buckets=None`` auto-sizes
      to ``max(est_rows // 2, 16)`` from a file-stat row estimate —
      falling back to an exact ``count()`` when the source isn't
      stat-able (in-memory frames, non-local schemes) — so buckets stay
      tiny and fully parallel at ANY corpus size (a fixed count at
      large n gives n/count-sized buckets and a quadratic within-bucket
      join — the blow-up class SCALE.md measured for 8-bit band
      buckets).  Every true near-dup found here is a
      BANDING false negative (est_jaccard may agree, the screen just
      never looked).

    Output: one row per stratum —
    ``(stratum, n_pairs, n_screen_drop, tp, fp, fn, tn, precision,
    recall)`` where tp = screen drops that exact Jaccard confirms,
    fp = drops it refutes, fn = true near-dups the screen kept.
    Precision/recall are per-stratum (``try_divide`` null when a
    stratum has no positives).  ``max_bucket_size`` mirrors the
    screen's oversized-bucket star-reduction, which is DEFAULT ON
    (``None`` → the same ``cache.auto_bucket_cap`` the screen
    resolves; ``0`` audits the uncapped form): whenever the cap is
    active, a third accounting row ``bucket_star_dropped`` reports in
    ``n_pairs`` the number of within-bucket pairs the star-reduction
    did NOT emit (sum over oversized (band, bucket) groups of
    c(c-1)/2 - (c-1), pre-dedup across bands; metric columns are null
    — these pairs were never scored, that is the point of the guard).

    Scale shape: the collision stratum is the LSH band self-join the
    screen itself runs; the random stratum is a bounded within-bucket
    self-join; exact Jaccard computes only for the SAMPLED pairs via
    two shingle joins (pairs x shingles, sample-bounded).  Everything
    uses the portable sha256 Carter-Wegman family, so the whole audit
    is replayable in any engine."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    if collision_sample_mod < 1 or (
        random_buckets is not None and random_buckets < 1
    ):
        raise ValueError(
            "collision_sample_mod and random_buckets must be >= 1"
        )
    if random_buckets is None:
        from multi_sensor_data_pipeline_for_robotics__spark.cache import (
            estimated_source_rows,
        )

        # file-stat estimate when available; otherwise an exact count()
        # — an `or 16` fallback here would give n/16-sized buckets and a
        # quadratic within-bucket join on in-memory / non-stat-able
        # sources, exactly the blow-up class the auto-sizing prevents
        # (one extra scan is cheap next to the audit's shingle joins)
        est_n = estimated_source_rows(df, bytes_per_row=512)
        if not est_n:
            est_n = df.count()
        random_buckets = max(est_n // 2, 16)
    if max_bucket_size is None:
        max_bucket_size = auto_bucket_cap(df)
    elif max_bucket_size < 0:
        raise ValueError("max_bucket_size must be >= 0 (0 = uncapped)")
    if hash_family == "sha256":
        sig_fn = minhash_signatures_portable
    elif hash_family == "tokenfold":
        sig_fn = minhash_signatures_tokenfold
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    sig = maybe_persist(
        sig_fn(df, num_hashes, text_col, id_col, shingle_n)
    )
    # the screen's own candidate stage, shared verbatim (see
    # _portable_candidates) — the audit measures THE shipped screen
    cand = maybe_persist(
        _portable_candidates(sig, num_hashes, bands, max_bucket_size),
        min_bytes=0,
    )

    def _h7(col):
        return F.conv(F.substring(F.sha2(col, 256), 1, 7), 16, 10).cast(
            "long"
        )

    coll = cand.filter(
        _h7(F.concat_ws("_", "doc_a", "doc_b"))
        % F.lit(int(collision_sample_mod))
        == 0
    ).select(
        "doc_a",
        "doc_b",
        F.lit("collision").alias("stratum"),
        (F.col("est_jaccard") >= threshold).alias("screen_drop"),
    )
    reps = _sig_rep_portable(sig, num_hashes).filter(
        F.col("doc") == F.col("__rep")
    )
    docs_b = reps.select(
        F.col("doc"),
        (_h7(F.col("doc").cast("string")) % random_buckets).alias("__bk"),
    )
    ra, rb = docs_b.alias("ra"), docs_b.alias("rb")
    rand = (
        ra.join(
            rb,
            (F.col("ra.__bk") == F.col("rb.__bk"))
            & (F.col("ra.doc") < F.col("rb.doc")),
        )
        .select(
            F.col("ra.doc").alias("doc_a"), F.col("rb.doc").alias("doc_b")
        )
        .join(cand.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti")
        .select(
            "doc_a",
            "doc_b",
            F.lit("random_nocollision").alias("stratum"),
            F.lit(False).alias("screen_drop"),
        )
    )
    pairs = coll.unionByName(rand)

    sh = maybe_persist(
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("doc"),
            F.explode(
                shingles(tokens(F.col(text_col)), shingle_n)
            ).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.select("doc_a", "doc_b")
        .join(sh.withColumnRenamed("doc", "doc_a"), "doc_a")
        .join(
            sh.select(F.col("doc").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    scored = (
        pairs.join(
            sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
        .join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .withColumn(
            "is_dup",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter"))
            >= threshold,
        )
    )
    tp = F.sum(
        F.when(F.col("screen_drop") & F.col("is_dup"), 1).otherwise(0)
    ).cast("long")
    fp = F.sum(
        F.when(F.col("screen_drop") & ~F.col("is_dup"), 1).otherwise(0)
    ).cast("long")
    fn = F.sum(
        F.when(~F.col("screen_drop") & F.col("is_dup"), 1).otherwise(0)
    ).cast("long")
    tn = F.sum(
        F.when(~F.col("screen_drop") & ~F.col("is_dup"), 1).otherwise(0)
    ).cast("long")
    out = (
        scored.groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("screen_drop").cast("long")).alias("n_screen_drop"),
            tp.alias("tp"),
            fp.alias("fp"),
            fn.alias("fn"),
            tn.alias("tn"),
        )
        .withColumn(
            "precision",
            F.round(
                F.try_divide(
                    F.col("tp").cast("double"), (F.col("tp") + F.col("fp"))
                ),
                round_to,
            ),
        )
        .withColumn(
            "recall",
            F.round(
                F.try_divide(
                    F.col("tp").cast("double"), (F.col("tp") + F.col("fn"))
                ),
                round_to,
            ),
        )
    )
    if max_bucket_size:
        # dropped-pair accounting for the star-reduction: per oversized
        # (band, bucket) group of c representatives, the join would have
        # emitted c(c-1)/2 pairs and the star emits c-1 — surface the
        # difference so a user can see what the guard declined to score
        c = F.col("c")
        dropped = (
            _banded_portable(reps.drop("__rep"), num_hashes, bands)
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(c > max_bucket_size)
            .agg(
                F.coalesce(
                    F.sum(c * (c - 1) / 2 - (c - 1)).cast("long"), F.lit(0)
                ).alias("n_pairs")
            )
            .select(
                F.lit("bucket_star_dropped").alias("stratum"),
                F.col("n_pairs"),
                F.lit(None).cast("long").alias("n_screen_drop"),
                F.lit(None).cast("long").alias("tp"),
                F.lit(None).cast("long").alias("fp"),
                F.lit(None).cast("long").alias("fn"),
                F.lit(None).cast("long").alias("tn"),
                F.lit(None).cast("double").alias("precision"),
                F.lit(None).cast("double").alias("recall"),
            )
        )
        out = out.unionByName(dropped)
    return out
