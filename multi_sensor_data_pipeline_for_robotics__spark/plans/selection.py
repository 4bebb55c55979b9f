"""Training-data SELECTION — scoring corpora against a reference
distribution so a pipeline can keep the slice that looks like the data
it wants more of. Two published families, both expressed as pure
Catalyst plans with engine-portable numbers:

* **Character n-gram LM scoring** (the CCNet recipe, Wenzek et al.
  2020, simplified from KenLM 5-gram word models to an add-alpha
  char-trigram model): train conditional trigram probabilities
  ``p(c3 | c1 c2)`` on a REFERENCE slice, then score every document by
  its mean log-probability per trigram.  Low bits-per-gram = looks
  like the reference; high = out-of-domain or noise.  This is the
  standard "perplexity bucket" signal used to stratify web crawls.

* **DSIR importance weighting** (Xie et al. 2023, "Data Selection for
  Language Models via Importance Resampling"): represent target and
  raw distributions as bags of HASHED n-grams over ``B`` buckets and
  weight each document by ``log p_target(x) - log p_raw(x)`` summed
  over its tokens.  Documents with the highest weights are the ones
  importance resampling would keep.

Scale shape (both): the MODEL is vocabulary-sized, never data-sized —
a trigram/bucket count table of at most ``|alphabet|^3`` / ``B`` rows
that broadcasts; the data-sized work is one explode + map-side
pre-aggregation per (doc, gram) + one broadcast join + one per-doc
sum.  No all-pairs stage, no driver-side iteration, no Python UDFs —
at 100 TB the model tables are still KB-sized broadcast variables and
the scoring pass is a single shuffle on ``doc_id``.

Portability: hashing is the repo-standard sha256 prefix (same trick as
``operators.dedup.minhash_signatures_portable``), probabilities are
exact integer-count ratios, and only the FINAL per-doc aggregate is
rounded (6 dp) — logs of count ratios are not lattice-aligned, so the
half-boundary rounding trap that bit decimal inputs (see git history
for ``feat_user_rfm``) cannot occur here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import ensure_parallelism

__all__ = [
    "char_trigrams",
    "train_char_lm",
    "train_char_lm_tables",
    "merge_char_lm_tables",
    "char_lm_from_tables",
    "char_lm_score",
    "collect_char_lm",
    "char_lm_score_map",
    "dsir_log_weights",
    "dsir_select_top",
    "collect_dsir_model",
    "dsir_score_map",
]


def char_trigrams(col: Column | str) -> Column:
    """Array of overlapping character trigrams of ``col`` (empty for
    strings shorter than 3 chars).  Mirrors the DuckDB expression
    ``list_transform(range(1, len(x)-1), i -> substr(x, i, 3))``."""
    c = F.col(col) if isinstance(col, str) else col
    # guard: Spark's sequence(1, 0) yields DESCENDING [1, 0], not empty,
    # so strings shorter than 3 chars must short-circuit explicitly.
    return F.when(
        F.length(c) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(c) - 2),
            lambda i: F.substring(c, i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def train_char_lm(
    ref: DataFrame,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count tables of an add-alpha conditional char-trigram LM trained
    on ``ref``: ``(trigram counts, context counts, vocab size)``.

    * trigram counts: (gram, cnt3) — occurrences of each trigram.
    * context counts: (ctx, cnt2) — occurrences of each trigram PREFIX
      (the first two chars), i.e. ``cnt2 = sum over c of cnt3(ctx||c)``,
      so ``sum_c p(c|ctx) = 1`` exactly under add-alpha smoothing.
    * vocab: a 1-row frame (v) = number of DISTINCT characters in the
      reference corpus — the smoothing denominator's alphabet.

    All three are vocabulary-sized (broadcastable); training is one
    trigram explode + one char scan of the reference slice — the
    context counts DERIVE from the trigram table (sum of cnt3 by
    prefix), never from a second data-sized pass.
    """
    grams = ensure_parallelism(ref).select(
        F.explode(char_trigrams(text_col)).alias("gram")
    )
    # persist the vocabulary-sized count: tri has two consumers (its
    # own broadcast + the derived ctx broadcast) and each would
    # otherwise replay the data-sized reference explode. A LAZY persist,
    # not localCheckpoint(eager=False): localCheckpoint runs FULL
    # physical planning at call time (measured ~5 s of the composed
    # corpus_select_pipeline's build — the subtree below includes the
    # gated+deduped survivor frame), while persist defers everything to
    # the first action and still computes the explode once.
    from ..cache import maybe_persist

    tri = maybe_persist(
        grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt3")),
        min_bytes=0,
    )
    ctx = (
        tri.groupBy(F.substring("gram", 1, 2).alias("ctx"))
        .agg(F.sum("cnt3").alias("cnt2"))
    )
    vocab = (
        ensure_parallelism(ref)
        .filter(F.length(text_col) >= 1)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(text_col)),
                    lambda i: F.substring(F.col(text_col), i, F.lit(1)),
                )
            ).alias("ch")
        )
        .agg(F.count_distinct("ch").cast("long").alias("v"))
    )
    return tri, ctx, vocab


def train_char_lm_tables(
    ref: DataFrame, text_col: str = "text"
) -> dict[str, DataFrame]:
    """The char-LM's ADDITIVE artifact form: ``{"tri": (gram, cnt3),
    "chars": (ch, cnt1)}`` — raw count tables whose merge is a plain
    sum, enabling INCREMENTAL training ("train once per corpus
    snapshot, fold in tonight's crawl slice") without ever re-reading
    old data.  The scoring triple :func:`train_char_lm` returns is NOT
    additive (context counts are derived sums and the vocab size is a
    distinct-count, neither of which merges), so the artifact keeps
    the primitives: trigram counts and the per-character counts whose
    ROW COUNT is the vocabulary size.

    Both tables are vocabulary-sized and named save-compatibly with
    :func:`sources.models.save_model_tables` — the intended nightly
    loop is ``load tables -> merge with today's slice -> save ->
    char_lm_from_tables -> score``.  Derive the scoring triple with
    :func:`char_lm_from_tables`; merging then deriving is EXACTLY
    equal to retraining on the concatenated corpus (counts are sums
    over disjoint scans; the union's alphabet is the union of
    alphabets)."""
    grams = ensure_parallelism(ref).select(
        F.explode(char_trigrams(text_col)).alias("gram")
    )
    tri = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt3"))
    chars = (
        ensure_parallelism(ref)
        .filter(F.length(text_col) >= 1)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(text_col)),
                    lambda i: F.substring(F.col(text_col), i, F.lit(1)),
                )
            ).alias("ch")
        )
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("cnt1"))
    )
    return {"tri": tri, "chars": chars}


def merge_char_lm_tables(
    *tables: dict[str, DataFrame],
) -> dict[str, DataFrame]:
    """Fold N additive char-LM artifacts (:func:`train_char_lm_tables`
    output — freshly trained or reloaded via
    ``sources.models.load_model_tables``) into one by summing counts.
    Exact: the result equals training on the concatenated corpora.
    Each merge is a vocabulary-sized union + groupBy, never a
    data-sized scan."""
    if not tables:
        raise ValueError("merge_char_lm_tables needs at least one artifact")
    for t in tables:
        if "tri" not in t or "chars" not in t:
            raise ValueError(
                "char-LM artifact must have 'tri' and 'chars' tables"
            )
    from functools import reduce

    tri = reduce(
        lambda a, b: a.unionByName(b), [t["tri"] for t in tables]
    )
    chars = reduce(
        lambda a, b: a.unionByName(b), [t["chars"] for t in tables]
    )
    return {
        "tri": tri.groupBy("gram").agg(F.sum("cnt3").alias("cnt3")),
        "chars": chars.groupBy("ch").agg(F.sum("cnt1").alias("cnt1")),
    }


def char_lm_from_tables(
    tables: dict[str, DataFrame],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Derive the scoring triple ``(tri, ctx, vocab)`` — the
    ``model=`` argument of :func:`char_lm_score` — from an additive
    artifact: context counts sum the trigram table by 2-char prefix
    and the vocab size counts the character table's rows, exactly as
    :func:`train_char_lm` computes them, so scores from a merged
    artifact are bit-identical to a full retrain.  Both derivations
    are vocabulary-sized."""
    if "tri" not in tables or "chars" not in tables:
        raise ValueError(
            "char-LM artifact must have 'tri' and 'chars' tables"
        )
    tri = tables["tri"].localCheckpoint(eager=False)
    ctx = tri.groupBy(F.substring("gram", 1, 2).alias("ctx")).agg(
        F.sum("cnt3").alias("cnt2")
    )
    vocab = tables["chars"].agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    return tri, ctx, vocab


def char_lm_score(
    docs: DataFrame,
    ref: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    round_to: int = 6,
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Score every document in ``docs`` under a char-trigram LM trained
    on ``ref``: (id, n_grams, avg_logp, bits_per_gram).

    ``p(c3|c1c2) = (cnt3 + alpha) / (cnt2 + alpha * V)`` with counts 0
    for unseen grams/contexts — a proper conditional distribution over
    the reference alphabet.  ``avg_logp`` is the mean natural-log
    probability per trigram (docs shorter than 3 chars score NULL);
    ``bits_per_gram = -avg_logp / ln 2`` is the "perplexity bucket"
    number CCNet-style filters threshold on.

    Plan: doc grams pre-aggregate to (doc, gram, n) map-side, then two
    BROADCAST joins against the vocabulary-sized model tables and one
    per-doc sum — a single data-sized shuffle (the groupBy on
    (id, gram)).

    ``model``: a pretrained ``(tri, ctx, vocab)`` table triple (the
    :func:`train_char_lm` shape — e.g. reloaded via
    ``sources.models.load_model_tables``) scores WITHOUT retraining;
    pass exactly one of ``ref`` / ``model``.
    """
    if (ref is None) == (model is None):
        raise ValueError("char_lm_score: pass exactly one of ref/model")
    tri, ctx, vocab = (
        model if model is not None else train_char_lm(ref, text_col)
    )
    dg = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("__id"),
            F.explode(char_trigrams(text_col)).alias("gram"),
        )
        .groupBy("__id", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    joined = (
        dg.join(F.broadcast(tri), "gram", "left")
        .withColumn("ctx", F.substring("gram", 1, 2))
        .join(F.broadcast(ctx), "ctx", "left")
        .crossJoin(F.broadcast(vocab))
    )
    # degenerate-reference rule: a reference with NO characters trains
    # v=0, which would zero the add-alpha denominator (ANSI
    # DIVIDE_BY_ZERO); clamp to 1 so the empty model scores every gram
    # log((0+a)/(0+a)) = 0 bits — identical in the map twin
    logp = F.log(
        (F.coalesce(F.col("cnt3"), F.lit(0)) + F.lit(alpha))
        / (
            F.coalesce(F.col("cnt2"), F.lit(0))
            + F.lit(alpha) * F.greatest(F.col("v"), F.lit(1))
        )
    )
    per_doc = joined.groupBy("__id").agg(
        F.sum("n").alias("n_grams"),
        (F.sum(F.col("n") * logp) / F.sum("n")).alias("_avg"),
    )
    ln2 = 0.6931471805599453
    return per_doc.select(
        F.col("__id").alias(id_col),
        F.col("n_grams"),
        F.round("_avg", round_to).alias("avg_logp"),
        F.round(-F.col("_avg") / F.lit(ln2), round_to).alias("bits_per_gram"),
    )


def _bucket(col: Column, buckets: int) -> Column:
    """Portable token -> bucket id in [0, buckets): first 28 bits of
    sha256 mod buckets (the repo-standard cross-engine hash)."""
    return F.pmod(
        F.conv(F.substring(F.sha2(col, 256), 1, 7), 16, 10).cast("long"),
        F.lit(buckets),
    )


def dsir_log_weights(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """DSIR importance log-weights: (id, n_tokens, log_weight).

    Target distribution = hashed-unigram bucket frequencies over the
    rows where ``is_target`` holds; raw distribution = over ALL of
    ``docs``.  ``log_weight(doc) = sum over its tokens of
    ln p_t(bucket) - ln p_r(bucket)`` with add-alpha smoothing over the
    ``buckets`` cells (so empty buckets stay finite on both sides).

    Plan: the token stream explodes and bucketizes ONCE into a
    per-(doc, tgt, bucket) pre-aggregate; BOTH bucket distributions
    (raw = all rows, target = the ``is_target`` slice, via conditional
    aggregation) and the per-doc scoring table derive from that shared
    shuffle — the data-sized explode never replays.  The model is
    B-row-sized regardless of corpus size — the DSIR paper's point is
    exactly that this weight is computable at web scale.
    """
    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("__id"),
        is_target.alias("__tgt"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    # __tgt is constant per __id, so this is the per-(doc, bucket)
    # table; both distributions re-aggregate it bucket-wise. Persisted
    # (size-gated): its two consumers sit behind DIFFERENT exchange
    # kinds (broadcast model vs shuffle join), so Spark's
    # ReusedExchange cannot dedupe them and the token explode would
    # run twice.
    from ..cache import maybe_persist

    dg = maybe_persist(
        toks.select(
            "__id", "__tgt", _bucket(F.col("tok"), buckets).alias("bucket")
        )
        .groupBy("__id", "__tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    model = dg.groupBy("bucket").agg(
        F.sum("n").alias("cr"),
        F.sum(F.when(F.col("__tgt"), F.col("n")).otherwise(0)).alias("ct"),
    )
    totals = model.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    j = dg.join(F.broadcast(model), "bucket", "left").crossJoin(
        F.broadcast(totals)
    )
    lt = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(alpha))
        / (F.col("nt") + F.lit(alpha) * F.lit(buckets))
    )
    lr = F.log(
        (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(alpha))
        / (F.col("nr") + F.lit(alpha) * F.lit(buckets))
    )
    return (
        j.groupBy("__id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.round(F.sum(F.col("n") * (lt - lr)), round_to).alias(
                "log_weight"
            ),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "log_weight")
    )


def dsir_select_top(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """The ``k`` documents importance resampling keeps: highest
    ``log_weight``, ties broken by ``id_col`` for determinism.  A
    bounded-k global top — Spark plans ``orderBy().limit(k)`` as
    TakeOrderedAndProject (per-partition top-k then a k-row merge),
    never a full single-task sort."""
    return weights.orderBy(
        F.col("log_weight").desc(), F.col(id_col)
    ).limit(k)


def collect_char_lm(
    ref: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_model_rows: int = 2_000_000,
) -> tuple[dict, dict, int]:
    """Materialize the char-trigram model as plain dicts
    ``(tri_counts, ctx_counts, vocab_size)`` — the broadcastable form
    :func:`char_lm_score_map` ships to executors.

    The collect is trigram-vocabulary-sized, which is NOT always small:
    worst case is ``|alphabet|^3``, and a CJK-heavy reference slice
    (alphabet of thousands of chars) can push it to millions of rows.
    Two controls (the ``tfidf_cosine_pairs`` fanout-budget discipline,
    ``operators/retrieval.py``):

    * ``min_count``: prune trigrams seen fewer than ``min_count`` times
      BEFORE collecting.  Smoothing semantics of the pruned model:
      pruned grams score at the add-alpha unseen floor (``cnt3 -> 0``)
      while the CONTEXT totals stay exact (they derive from the
      unpruned table), so probabilities still sum to <= 1 per context
      and in-vocab scores are unchanged.  ``min_count=1`` (default) is
      exact and byte-identical to :func:`char_lm_score`.
    * ``max_model_rows``: fail-fast size budget on the driver collect —
      the (post-pruning) trigram rows plus context rows are counted in
      a vocabulary-sized pre-pass and the call raises with the
      offending numbers and the remediation BEFORE anything
      materializes on the driver.  Set ``max_model_rows=None`` to
      disable (e.g. when the alphabet is known-small)."""
    tri, ctx, vocab = train_char_lm(ref, text_col)
    if min_count > 1:
        tri = tri.filter(F.col("cnt3") >= int(min_count))
    # lazy checkpoint (the collect_lsh_screen_model discipline): the
    # size-guard count below and the collects after it would otherwise
    # each replay the full training aggregation from scratch
    tri = tri.localCheckpoint(eager=False)
    ctx = ctx.localCheckpoint(eager=False)
    if max_model_rows is not None:
        sizes = (
            tri.agg(F.count(F.lit(1)).alias("n")).unionAll(
                ctx.agg(F.count(F.lit(1)).alias("n"))
            )
        ).agg(F.sum("n").alias("rows")).collect()[0]
        n_rows = int(sizes["rows"] or 0)
        if n_rows > int(max_model_rows):
            raise ValueError(
                f"collect_char_lm: model has {n_rows} rows"
                f" (> max_model_rows={int(max_model_rows)}) — a"
                " large-alphabet reference slice makes the trigram"
                " table driver-hostile. Raise min_count (currently"
                f" {min_count}) to prune rare grams, raise"
                " max_model_rows, or use the join-based"
                " char_lm_score which never collects the model."
            )
    tri_d = {r["gram"]: r["cnt3"] for r in tri.collect()}
    ctx_d = {r["ctx"]: r["cnt2"] for r in ctx.collect()}
    v = vocab.collect()[0]["v"]
    return tri_d, ctx_d, int(v)


def char_lm_score_map(
    df: DataFrame,
    model: tuple[dict, dict, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """STREAMING-SAFE char-LM scoring: the model rides as a broadcast
    dict and each document scores inside one Arrow batch — a stateless
    ``mapInPandas`` with NO shuffle and NO streaming aggregation state,
    so the same call works on a batch frame or a ``readStream`` (the
    join-based :func:`char_lm_score` needs a per-doc groupBy that a
    stream cannot run in append mode).  Emits the same columns as the
    batch operator; docs shorter than 3 chars are dropped, matching
    batch semantics.  Scores agree with the batch path at round(6)
    (both sum per-gram logs of identical double ratios).

    Scoring is numpy-VECTORIZED, never per-character Python: each
    Arrow batch's texts concatenate into one codepoint array
    (``utf-32-le`` view), trigram/context keys pack into int64
    (codepoints < 2^21, so ``c1<<42 | c2<<21 | c3`` is collision-free),
    count lookups are one vectorized ``pd.Series.map`` per key kind,
    and per-doc sums are a single ``np.bincount``.  The broadcast
    string-keyed dicts re-key to packed-int Series once per PARTITION
    (vocabulary-sized, amortized across every batch in the task)."""
    import math

    spark = df.sparkSession
    tri_d, ctx_d, v = model
    v = max(int(v), 1)  # degenerate-reference rule, see char_lm_score
    btri = spark.sparkContext.broadcast(tri_d)
    bctx = spark.sparkContext.broadcast(ctx_d)
    ln2 = math.log(2.0)

    def _score(pdfs):
        import numpy as np
        import pandas as pd

        tri = btri.value
        ctx = bctx.value
        # one-time per partition: re-key the broadcast dicts to packed
        # int64 codepoint keys so per-gram lookups vectorize
        tri_s = pd.Series(
            np.fromiter(tri.values(), dtype="float64", count=len(tri)),
            index=np.fromiter(
                (
                    (ord(k[0]) << 42) | (ord(k[1]) << 21) | ord(k[2])
                    for k in tri
                ),
                dtype="int64",
                count=len(tri),
            ),
        )
        ctx_s = pd.Series(
            np.fromiter(ctx.values(), dtype="float64", count=len(ctx)),
            index=np.fromiter(
                ((ord(k[0]) << 21) | ord(k[1]) for k in ctx),
                dtype="int64",
                count=len(ctx),
            ),
        )
        empty = pd.DataFrame(
            {
                id_col: pd.Series([], dtype="int64"),
                "n_grams": pd.Series([], dtype="int64"),
                "avg_logp": pd.Series([], dtype="float64"),
                "bits_per_gram": pd.Series([], dtype="float64"),
            }
        )
        # Arrow batches slice into ~2k-doc chunks before scoring: the
        # kernel is memory-bandwidth-bound (several full passes over
        # codepoint/key/log arrays), and at 10k-doc batches x 32
        # parallel workers the temporaries (~0.5 GB/worker) thrash the
        # shared cache — chunking keeps each worker's working set a
        # few MB and the timings flat
        CHUNK = 2048
        for pdf in pdfs:
            keep = pdf[text_col].notna() & (pdf[text_col].str.len() >= 3)
            all_texts = pdf.loc[keep, text_col].tolist()
            if not all_texts:
                yield empty
                continue
            all_ids = pdf.loc[keep, id_col].to_numpy(dtype="int64")
            for lo in range(0, len(all_texts), CHUNK):
                texts = all_texts[lo : lo + CHUNK]
                ids = all_ids[lo : lo + CHUNK]
                lens = np.fromiter(
                    (len(t) for t in texts),
                    dtype="int64",
                    count=len(texts),
                )
                cp = np.frombuffer(
                    "".join(texts).encode("utf-32-le"), dtype="<u4"
                ).astype("int64")
                ng = lens - 2
                # trigram/context keys over CONTIGUOUS slices of the
                # shared buffer (no gather), then a boolean mask drops
                # the two boundary-crossing gram starts before each
                # non-final doc end — measured ~2x faster than
                # gathering per-gram positions (every doc here has
                # len >= 3, so the masked indices are always in range)
                k3all = (cp[:-2] << 42) | (cp[1:-1] << 21) | cp[2:]
                k2all = (cp[:-2] << 21) | cp[1:-1]
                mask = np.ones(len(cp) - 2, dtype=bool)
                be = np.cumsum(lens)[:-1]
                mask[be - 2] = False
                mask[be - 1] = False
                c3 = (
                    pd.Series(k3all[mask]).map(tri_s).fillna(0.0).to_numpy()
                )
                c2 = (
                    pd.Series(k2all[mask]).map(ctx_s).fillna(0.0).to_numpy()
                )
                logs = np.log((c3 + alpha) / (c2 + alpha * v))
                doc_of = np.repeat(
                    np.arange(len(texts), dtype="int64"), ng
                )
                avg = (
                    np.bincount(
                        doc_of, weights=logs, minlength=len(texts)
                    )
                    / ng
                )
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "n_grams": ng,
                        "avg_logp": np.round(avg, round_to),
                        "bits_per_gram": np.round(-avg / ln2, round_to),
                    }
                )

    return df.mapInPandas(
        _score,
        schema=f"{id_col} long, n_grams long, avg_logp double,"
        " bits_per_gram double",
    )


def collect_dsir_model(
    docs: DataFrame,
    is_target: Column,
    text_col: str = "text",
    buckets: int = 1024,
) -> tuple[dict, dict, int, int, int]:
    """Materialize the DSIR bucket model as plain dicts
    ``(target_counts, raw_counts, n_target, n_raw, buckets)`` — the
    broadcastable form :func:`dsir_score_map` ships to executors.
    Bounded collect: <= ``buckets`` rows by construction."""
    toks = ensure_parallelism(docs).select(
        is_target.alias("__tgt"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    model = (
        toks.select("__tgt", _bucket(F.col("tok"), buckets).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("ct"),
        )
        .collect()
    )
    ct = {r["bucket"]: r["ct"] for r in model}
    cr = {r["bucket"]: r["cr"] for r in model}
    return ct, cr, sum(ct.values()), sum(cr.values()), buckets


def dsir_score_map(
    df: DataFrame,
    model: tuple[dict, dict, int, int, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """STREAMING-SAFE DSIR weighting: the <= ``buckets``-row model rides
    as a broadcast dict and each document's log-weight computes inside
    one Arrow batch — stateless ``mapInPandas``, no shuffle, works on a
    ``readStream`` in append mode (see :func:`char_lm_score_map` for
    the pattern).  The sha256 bucket hash matches the Catalyst path's
    portable hash, so weights agree at round(6).

    Scoring is numpy-VECTORIZED, never per-token Python arithmetic:
    the <= ``buckets``-cell log-ratio table precomputes ONCE per
    partition as a dense numpy array, each batch's tokens dedupe via
    ``pd.factorize`` (O(n) hashtable) so sha256 runs only on tokens the
    PARTITION hasn't seen yet (a per-partition memo; Zipf makes that a
    small fraction), bucket lookups are one fancy-index, and per-doc
    sums are a single ``np.bincount``."""
    import hashlib

    spark = df.sparkSession
    ct_d, cr_d, nt, nr, buckets = model
    bct = spark.sparkContext.broadcast(ct_d)
    bcr = spark.sparkContext.broadcast(cr_d)

    def _score(pdfs):
        import numpy as np
        import pandas as pd

        ct = bct.value
        cr = bcr.value
        den_t = nt + alpha * buckets
        den_r = nr + alpha * buckets
        # dense per-bucket log weight, computed once per partition
        ct_a = np.zeros(buckets, dtype="float64")
        cr_a = np.zeros(buckets, dtype="float64")
        for b, c in ct.items():
            ct_a[b] = c
        for b, c in cr.items():
            cr_a[b] = c
        ratio = np.log((ct_a + alpha) / den_t) - np.log(
            (cr_a + alpha) / den_r
        )
        memo: dict = {}

        def _b(t):
            v = memo.get(t)
            if v is None:
                v = (
                    int(
                        hashlib.sha256(t.encode("utf-8")).hexdigest()[:7],
                        16,
                    )
                    % buckets
                )
                memo[t] = v
            return v

        empty = pd.DataFrame(
            {
                id_col: pd.Series([], dtype="int64"),
                "n_tokens": pd.Series([], dtype="int64"),
                "log_weight": pd.Series([], dtype="float64"),
            }
        )
        for pdf in pdfs:
            keep = pdf[text_col].notna()
            texts = pdf.loc[keep, text_col].tolist()
            if not texts:
                yield empty
                continue
            ids = pdf.loc[keep, id_col].to_numpy(dtype="int64")
            toks_per_doc = [t.split(" ") for t in texts]
            ns = np.fromiter(
                (len(x) for x in toks_per_doc),
                dtype="int64",
                count=len(toks_per_doc),
            )
            flat = np.fromiter(
                (tok for toks in toks_per_doc for tok in toks),
                dtype=object,
                count=int(ns.sum()),
            )
            codes, uniq = pd.factorize(flat, sort=False)
            ub = np.fromiter(
                (_b(t) for t in uniq), dtype="int64", count=len(uniq)
            )
            doc_of = np.repeat(np.arange(len(texts), dtype="int64"), ns)
            tot = np.bincount(
                doc_of, weights=ratio[ub[codes]], minlength=len(texts)
            )
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "n_tokens": ns,
                    "log_weight": np.round(tot, round_to),
                }
            )

    return df.mapInPandas(
        _score,
        schema=f"{id_col} long, n_tokens long, log_weight double",
    )


def _gate_and_dedup(
    docs: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """The shared stage-1/2 construction of the selection pipeline and
    its funnel report (and semantically of ``corpus_clean_pipeline``):
    Gopher-style quality + repetition gate, then min-id representative
    per sha256(text). Returns ``(gated, survivors)`` with the survivor
    frame persisted UNGATED — every caller fans it into multiple
    heterogeneous consumers (see :func:`corpus_select_pipeline`'s plan
    note). Keeping this in ONE place means a threshold change cannot
    desynchronize the pipeline from the report that instruments it."""
    from ..cache import maybe_persist
    from ..functions.text import quality_flags, repetition_flags
    from ..functions.text import tokens as _tokens

    from ..sources.tables import ensure_parallelism

    # widen a one-file scan BEFORE the gate: the quality/repetition
    # expressions cost ~0.4 ms/doc and the persisted survivor frame
    # inherits the scan's partitioning — left single-partition, its
    # first consumer computes the whole 2.2 s gate on one task while
    # every other consumer's task BLOCKS on the cache lock (measured:
    # two extra 2.2 s zero-CPU stages at sf0.1)
    docs_w = ensure_parallelism(docs)
    if docs_w is not docs:
        # pushdown barrier, only when a widening exchange was inserted:
        # Catalyst pushes the (deterministic, expensive) gate predicate
        # below the round-robin repartition back onto the single scan
        # task — the r13 duplicated-UDF-pushdown class. A
        # non-deterministic no-op predicate blocks the reorder (filters
        # do not move past non-deterministic ones); the gate is not a
        # parquet-pushable predicate, so nothing is lost at the scan.
        docs_w = docs_w.filter(F.spark_partition_id() >= 0)
    docs = docs_w
    toks = _tokens(F.col(text_col))
    q = quality_flags(toks, F.col(text_col))
    r = repetition_flags(toks)
    gated = docs.filter(
        q["ok_length"]
        & q["ok_token_len"]
        & q["ok_stopwords"]
        & r["ok_dup_ngrams"]
        & r["ok_top_token"]
    )
    keep_ids = (
        gated.groupBy(F.sha2(F.col(text_col), 256).alias("__h"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    surv = maybe_persist(
        gated.join(keep_ids, id_col, "left_semi"), min_bytes=0
    )
    return gated, surv


def corpus_select_pipeline(
    docs: DataFrame,
    is_target: Column,
    k: int = 50,
    max_bits: float = 4.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    buckets: int = 1024,
    round_to: int = 6,
) -> DataFrame:
    """The composed SELECTION pipeline a curation build runs on top of
    dedup: quality gate -> exact dedup -> char-LM perplexity bucket ->
    DSIR importance top-k — raw documents in, the ``k`` rows importance
    resampling keeps out, as ONE lazy plan.

    Stages (each the already-tested primitive, so the composition
    inherits their oracle checks and scale shapes):
      1. quality + repetition gate (``functions.text``) — codegen'd
         expressions fused into the scan;
      2. exact dedup — min-id representative per sha256(text); the
         groupBy shuffles 32-byte hashes + ids, never text
         (``corpus_clean_pipeline``'s stage 2);
      3. char-LM bucket — score every survivor under a trigram LM
         trained on the SURVIVING target slice (:func:`char_lm_score`)
         and keep docs with ``bits_per_gram <= max_bits`` (the CCNet
         "head" cut);
      4. DSIR top-k — importance log-weights over the bucket survivors
         with the same target predicate (:func:`dsir_log_weights`),
         then the deterministic bounded-k top
         (:func:`dsir_select_top`).

    Output: (doc_id, lang, source, n_tokens, bits_per_gram,
    log_weight) for the selected k.

    Plan shape: the gated+deduped survivor frame is persisted UNGATED
    (:func:`_gate_and_dedup`) — it feeds the LM reference explode, the
    LM scoring explode, and the DSIR stage, heterogeneous consumers
    ReusedExchange cannot dedupe, so without the barrier the
    scan+gate+dedup subtree would replay per consumer at any size
    (measured 34.7 s -> 8.4 s at sf0.1). Within stages nothing
    re-explodes:
    the LM context table DERIVES from the trigram counts
    (``train_char_lm``) and DSIR's token explode is shared between its
    model and its scoring via the persisted pre-aggregate
    (``dsir_log_weights``). Total data-sized shuffles: dedup groupBy,
    LM (id, gram) pre-aggregate, DSIR (id, bucket) pre-aggregate —
    the models broadcast, the top-k is TakeOrderedAndProject."""
    from ..cache import maybe_persist

    _, surv = _gate_and_dedup(docs, text_col, id_col)
    lm = char_lm_score(
        surv, surv.filter(is_target), text_col, id_col, alpha, round_to
    )
    # also ungated-persisted: kept feeds DSIR's model branch, DSIR's
    # scoring branch, and the final metadata join — without the barrier
    # the whole LM scoring join replays per consumer
    kept = maybe_persist(
        surv.join(
            lm.filter(F.col("bits_per_gram") <= max_bits).select(
                id_col, "bits_per_gram"
            ),
            id_col,
        ),
        min_bytes=0,
    )
    w = dsir_log_weights(
        kept, is_target, text_col, id_col, buckets, round_to=round_to
    )
    top = dsir_select_top(w, k, id_col)
    return top.join(
        kept.select(id_col, "lang", "source", "bits_per_gram"), id_col
    ).select(
        id_col, "lang", "source", "n_tokens", "bits_per_gram", "log_weight"
    )


def dsir_select_token_budget(
    weights: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Select highest-weight documents until a TOKEN budget fills —
    the form a real curation run takes ("give me the best 50B tokens"),
    vs :func:`dsir_select_top`'s count form.  Docs order by
    (log_weight DESC, id ASC); a doc is kept iff the cumulative token
    count of everything ranked BEFORE it is still under the budget, so
    the crossing document is included (the selected set always covers
    the budget unless the corpus runs out).

    Output adds ``cum_tokens`` (inclusive running total) for
    observability.  The prefix sum runs on the range-shuffle
    ``global_running_sum`` scan — never an unpartitioned ORDER BY
    window, so no single-task sort at corpus scale."""
    from ..operators.pack import global_running_sum

    w = weights.withColumn("__negw", -F.col("log_weight"))
    run = global_running_sum(
        w, ["__negw", id_col], "n_tokens", out_col="cum_tokens"
    )
    return (
        run.filter(
            F.col("cum_tokens") - F.col("n_tokens") < F.lit(int(budget_tokens))
        )
        .select(
            id_col,
            "n_tokens",
            "log_weight",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
        )
    )


def mixture_token_budget(
    weighted_docs: DataFrame,
    target_shares: dict[str, float],
    budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fill a TOKEN budget to a target SOURCE mixture, best-first:
    source ``s`` gets ``share_s / sum(shares)`` of ``budget_tokens``,
    and within each source the highest-``log_weight`` documents fill
    that slice (crossing doc included, same rule as
    :func:`dsir_select_token_budget`) — "the best 30% web, 50% code,
    20% papers of an N-token budget", the composed form curation runs
    actually specify.  Sources absent from ``target_shares`` are
    excluded.

    Input: one row per doc with (id, source, n_tokens, log_weight) —
    e.g. :func:`dsir_log_weights` joined back to doc metadata.
    Output adds ``cum_tokens`` (per-source inclusive running total).

    Scale shape: the per-source prefix sum runs on the SAME
    range-shuffle ``global_running_sum`` scan as
    :func:`dsir_select_token_budget`, keyed ``(source, -log_weight,
    id)`` — within each source the global order IS the per-source
    best-first order, so per-source running totals are the global
    running total minus a per-source offset (the token total of every
    EARLIER source in key order, a |sources|-row broadcast).  This
    matters because in mixture selection a few huge sources is the
    COMMON case ("30% web of 1T tokens"), and a
    ``Window.partitionBy(source)`` would sort the dominant source's
    candidates in ONE task; the range scan spreads every source across
    range partitions instead."""
    if not target_shares:
        raise ValueError("target_shares must name at least one source")
    tot = float(sum(target_shares.values()))
    if tot <= 0:
        raise ValueError("target_shares must sum to a positive value")
    items = sorted(target_shares.items())
    budget_col = F.lit(None).cast("double")
    for s, sh in items:
        budget_col = (
            F.when(
                F.col(source_col) == s,
                F.lit(float(budget_tokens) * (float(sh) / tot)),
            ).otherwise(budget_col)
        )
    cum = _mixture_source_cum(
        weighted_docs, [s for s, _ in items], source_col, id_col
    )
    return cum.filter(
        (F.col("cum_tokens") - F.col("n_tokens")).cast("double")
        < budget_col
    ).select(id_col, source_col, "n_tokens", "log_weight", "cum_tokens")


def _mixture_source_cum(
    weighted_docs: DataFrame,
    sources: list[str],
    source_col: str,
    id_col: str,
) -> DataFrame:
    """Per-source best-first inclusive running token totals on the
    range-shuffle ``global_running_sum`` scan keyed
    ``(source, -log_weight, id)`` — shared by
    :func:`mixture_token_budget` and
    :func:`mixture_token_budget_redistribute`.  Within each source the
    global key order IS the per-source best-first order, so per-source
    totals are the global running total minus a per-source offset (the
    token total of every EARLIER source in key order, a
    |sources|-row broadcast)."""
    from pyspark.sql import Window as W

    from ..operators.pack import global_running_sum

    # NULL log_weight sorts LAST (lowest priority): a plain -log_weight
    # would leave NULLs NULL, and ascending-NULLS-FIRST range keys
    # would hand unweighted docs the budget before every real
    # candidate — the opposite of the Window desc() (NULLS LAST)
    # semantics this scan replaced
    cand = weighted_docs.filter(
        F.col(source_col).isin(list(sources))
    ).withColumn(
        "__negw",
        F.coalesce(-F.col("log_weight"), F.lit(float("inf"))),
    )
    run = global_running_sum(
        cand, [source_col, "__negw", id_col], "n_tokens", out_col="__gcum"
    )
    w_src = W.orderBy(source_col).rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        run.groupBy(source_col)
        .agg(F.sum("n_tokens").alias("__tot"))
        .select(
            source_col,
            F.coalesce(F.sum("__tot").over(w_src), F.lit(0)).alias("__off"),
        )
    )
    return (
        run.join(F.broadcast(offsets), source_col)
        .withColumn(
            "cum_tokens", (F.col("__gcum") - F.col("__off")).cast("long")
        )
        .drop("__negw", "__gcum", "__off")
    )


def mixture_token_budget_redistribute(
    weighted_docs: DataFrame,
    target_shares: dict[str, int],
    budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`mixture_token_budget` with WATERFILLING: when a source
    runs out of tokens before its slice fills (the everyday case —
    "give papers 20%" when papers is 4% of the corpus), its leftover
    budget redistributes to the remaining sources in proportion to
    their shares, iterating until no newly-exhausted source remains
    (at most |sources| rounds) — so the selection actually SPENDS the
    budget instead of silently under-filling.

    ``target_shares`` values must be INTEGERS (parts, e.g.
    ``{"web": 50, "code": 30, "papers": 20}``): every comparison is
    then exact cross-multiplied BIGINT arithmetic — ``prefix * rem_share
    < rem_budget * share`` — with no float division whose summation
    order could flip a boundary doc between engines.  An exhausted
    source admits ALL its docs; an unexhausted source fills its final
    slice best-first, crossing doc included (the
    :func:`dsir_select_token_budget` rule).

    The fixpoint runs driver-side over the |sources|-row totals table
    (a model-sized collect, the ``collect_dsir_model`` discipline);
    the data-sized work is the one shared
    :func:`_mixture_source_cum` scan."""
    if not target_shares:
        raise ValueError("target_shares must name at least one source")
    for s, sh in target_shares.items():
        if not isinstance(sh, int) or isinstance(sh, bool) or sh <= 0:
            raise ValueError(
                "redistribute mode needs positive INTEGER shares"
                f" (exact arithmetic); got {s}={sh!r}"
            )
    budget_tokens = int(budget_tokens)
    items = sorted(target_shares.items())
    cum = _mixture_source_cum(
        weighted_docs, [s for s, _ in items], source_col, id_col
    )
    cum = cum.localCheckpoint(eager=False)  # totals + final filter
    totals = {
        r[source_col]: int(r["__t"])
        for r in cum.groupBy(source_col)
        .agg(F.sum("n_tokens").alias("__t"))
        .collect()
    }
    exhausted: set[str] = set()
    while True:
        rem_budget = budget_tokens - sum(
            totals.get(s, 0) for s in exhausted
        )
        rem_share = sum(sh for s, sh in items if s not in exhausted)
        newly = {
            s
            for s, sh in items
            if s not in exhausted
            and totals.get(s, 0) * rem_share < rem_budget * sh
        }
        if not newly:
            break
        exhausted |= newly
    admit = F.lit(False)
    for s, sh in items:
        if s in exhausted:
            cond = F.lit(True)
        else:
            cond = (
                (F.col("cum_tokens") - F.col("n_tokens"))
                * F.lit(int(rem_share))
            ) < F.lit(int(rem_budget)) * F.lit(int(sh))
        admit = F.when(F.col(source_col) == s, cond).otherwise(admit)
    return cum.filter(admit).select(
        id_col, source_col, "n_tokens", "log_weight", "cum_tokens"
    )


def corpus_select_funnel(
    docs: DataFrame,
    is_target: Column,
    k: int = 50,
    max_bits: float = 4.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    buckets: int = 1024,
    group_col: str | None = None,
) -> DataFrame:
    """Attrition report for :func:`corpus_select_pipeline`:
    (stage, n_docs, n_tokens) at every stage boundary —
    ``1_raw → 2_gated → 3_deduped → 4_lm_bucket → 5_selected`` — the
    observability readout a curation run publishes next to its output
    ("the gate dropped 40% of docs but only 12% of tokens" is the
    number that decides whether thresholds move).

    ``group_col`` (e.g. ``"source"``) slices every stage by that
    column — "WHICH source is the gate killing?" is usually the first
    question the scalar funnel raises.  A group with no survivors at a
    stage emits no row for it (the honest readout: the group is gone);
    output grows to |stages| x |groups| rows, still report-sized.

    Same stage construction as the pipeline (same gate expressions,
    same dedup representative rule, same LM bucket, same DSIR top-k);
    the survivor/bucket frames are persisted ungated exactly as there,
    so the five stage aggregates replay nothing expensive.  Output is
    5 rows (scalar form) — the aggregates are group-cardinality-sized."""
    from ..cache import maybe_persist
    from ..functions.text import tokens as _tokens

    ntok = F.size(_tokens(F.col(text_col))).cast("long")
    gated, surv = _gate_and_dedup(docs, text_col, id_col)
    lm = char_lm_score(surv, surv.filter(is_target), text_col, id_col, alpha)
    kept = maybe_persist(
        surv.join(
            lm.filter(F.col("bits_per_gram") <= max_bits).select(id_col),
            id_col,
            "left_semi",
        ),
        min_bytes=0,
    )
    w = dsir_log_weights(kept, is_target, text_col, id_col, buckets)
    selected = kept.join(
        dsir_select_top(w, k, id_col).select(id_col), id_col, "left_semi"
    )
    stages = [
        ("1_raw", docs),
        ("2_gated", gated),
        ("3_deduped", surv),
        ("4_lm_bucket", kept),
        ("5_selected", selected),
    ]
    if group_col is None:
        parts = [
            df.agg(
                F.lit(name).alias("stage"),
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum(ntok), F.lit(0)).alias("n_tokens"),
            )
            for name, df in stages
        ]
    else:
        parts = [
            df.groupBy(group_col)
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum(ntok), F.lit(0)).alias("n_tokens"),
            )
            .select(
                F.lit(name).alias("stage"),
                group_col,
                "n_docs",
                "n_tokens",
            )
            for name, df in stages
        ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
