"""Corpus-curation operators for large-scale training-data pipelines.

The cleaning passes a 100 TB pretraining corpus needs beyond dedup
(operators/dedup.py) and quality scoring (functions/text.py):

- :func:`benchmark_contamination` — n-gram-overlap decontamination
  against an evaluation-benchmark set (broadcast the benchmark's
  shingles, never shuffle the corpus by shingle).
- :func:`pii_scrub` — regex redaction of emails/phones/IPs, pure
  codegen'd column work.
- :func:`stratified_sample` — deterministic hash-based per-class
  downsampling to the minority class (balanced training sets without
  RNG state or a fact-side shuffle).
- :func:`manifest_dedup` — incremental snapshot dedup: drop documents
  whose content hash is already in a prior-ingest manifest, then dedup
  within the new batch.
- :func:`bloom_bitmap` / :func:`bloom_might_contain` — a portable
  Bloom filter as a literal bitmap column expression: build once from
  the dimension side (bounded collect, ≤ m/64 longs), then prune fact
  rows BEFORE any join/shuffle — the runtime row-level-filtering
  pattern for 100 TB semi-joins, with the exact join kept for the
  survivors so semantics stay exact.

Every operator is deterministic and engine-portable (md5-prefix
hashing, no RNG), so each has a value-exact DuckDB oracle in
queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_60, md5_long
from .dedup import word_shingles

__all__ = [
    "benchmark_contamination",
    "pii_scrub",
    "PII_PATTERNS",
    "stratified_sample",
    "manifest_dedup",
    "bloom_bitmap",
    "bloom_might_contain",
    "mixture_rates",
    "mixture_sample",
    "inverted_index",
    "chunk_documents",
    "boilerplate_shingles",
    "boilerplate_ratio",
    "source_cap_sample",
    "leakage_safe_split",
    "takedown_propagation",
    "mixture_epochs",
    "content_defined_chunks",
    "cross_source_dup_matrix",
    "dup_weighted_docs",
    "cdc_dedup_rewrite",
]


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document overlap with a benchmark's k-word shingle set —
    the decontamination check run before training so eval data does not
    leak into the corpus (the n-gram-overlap method used by public LM
    data pipelines).

    Returns ``(doc_id, n_shingles, n_contaminated, contamination)`` for
    every corpus document; ``contamination`` = fraction of the doc's
    distinct shingles that appear anywhere in the benchmark.

    Scale shape: the benchmark is tiny relative to the corpus (eval
    sets are thousands of docs, the corpus is billions), so its
    distinct-shingle set is BROADCAST and the corpus side never
    shuffles by shingle — the only shuffle is the per-doc aggregate.
    The per-doc shingle work (tokenize + slide + array_distinct — the
    most expensive string pass here) is evaluated EXACTLY ONCE: both
    the total and the hit count come out of a single explode_outer
    stream (two dataflow branches over an unmaterialized projection
    would each re-run the shingle expression over every document).
    """
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(F.col(text_col), k)).alias("shingle")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        # explode_outer keeps zero-shingle docs (one null-shingle row)
        F.explode_outer(word_shingles(F.col(text_col), k)).alias("shingle"),
    )
    marked = exploded.join(F.broadcast(bench_sh), "shingle", "left")
    out = marked.groupBy("doc_id").agg(
        F.count("shingle").alias("n_shingles"),
        F.count("__hit").alias("n_contaminated"),
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        F.round(
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_contaminated") / F.col("n_shingles"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("contamination"),
    )


#: (pattern, replacement) — conservative, RE2-compatible (no lookaround)
#: so the identical pattern runs in Spark (Java regex) and DuckDB (RE2).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_scrub(text: Column) -> Column:
    """Redact emails, phone numbers, and IPv4 addresses from a text
    column. A chained ``regexp_replace`` — whole-stage-codegen'd,
    scan-bound, no UDF. Order matters: emails first (an email never
    survives to be half-matched as a phone), IPs last (the phone
    pattern cannot match a dotted quad because it requires exactly
    3-3-4 digits)."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    salt: str = "strat",
    scale: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-stratum downsampling to the minority class.

    Every stratum keeps ``floor(min_count · scale / stratum_count)``
    out of each ``scale`` hash buckets, so the expected kept size of
    every stratum equals the smallest stratum — a balanced training
    set with NO RNG state and NO fact shuffle: whether a row survives
    is recomputable from (id, stratum sizes) alone, so the sample is
    identical across engines, partitionings, and reruns (seeded
    ``sample()`` is none of those).

    Plan: one pass computes per-stratum counts (partial-agg, dimension
    -sized result), the thresholds broadcast back, and the fact scan
    filters inline. The only fact-sized work is the scan itself.
    """
    from pyspark.sql import Window

    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    # min over the (dimension-sized) counts frame via an unpartitioned
    # window: one aggregation feeds both the per-stratum sizes and the
    # global minimum — no second scan, no scalar cross-join (which
    # plans a BroadcastNestedLoopJoin the suite-wide audit forbids).
    mn = F.min("__n").over(Window.partitionBy())
    thresholds = counts.select(
        strata_col,
        F.floor((mn * F.lit(scale)) / F.col("__n")).cast("long").alias("__thresh"),
    )
    bucket = md5_long(F.concat(F.lit(salt + "_"), F.col(id_col))) % F.lit(scale)
    return (
        df.join(F.broadcast(thresholds), strata_col)
        .filter(bucket < F.col("__thresh"))
        .drop("__thresh")
    )


def manifest_dedup(
    new_docs: DataFrame,
    manifest_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingest dedup: drop new documents whose content hash
    already exists in a prior snapshot's manifest, then keep one doc
    (minimum id) per remaining distinct text.

    ``manifest_hashes`` must have a ``text_hash`` column (md5 hex) — a
    hash-only manifest is 16 bytes/doc, so a billion-doc history is
    ~16 GB: shuffle-joinable at worst, bloom-prefilterable
    (:func:`bloom_might_contain`) to skip the shuffle for the ~never-
    seen majority. The within-batch dedup shuffles (hash, id) pairs
    only — document bodies never move.
    """
    hashed = new_docs.withColumn("text_hash", F.md5(F.col(text_col)))
    fresh = hashed.join(manifest_hashes, "text_hash", "left_anti")
    keep = (
        fresh.groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )
    return keep.select(id_col, "text_hash", "n_copies")


def bloom_bitmap(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    n_hashes: int = 3,
    salt: str = "bf",
) -> list[int]:
    """Build a Bloom-filter bitmap from a key column: ``m_bits / 64``
    longs (8 KiB at the default 2^16 bits — sized by the FILTER, not
    the data, so the collect is bounded no matter how many keys).

    Hash family: the portable md5-prefix hash with per-probe salts, so
    the identical filter is recomputable in any engine. Build cost is
    one pass over the (dimension-side) keys with a ``n_hashes``-way
    explode and a ``bit_or`` aggregate over ≤ m/64 groups.
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    (
                        md5_long(
                            F.concat(F.lit(f"{salt}{j}_"), F.col(key_col))
                        )
                        % F.lit(m_bits)
                    )
                    for j in range(n_hashes)
                ]
            )
        ).alias("p")
    )
    buckets = (
        pos.select(
            (F.col("p") / 64).cast("long").alias("bucket"),
            # call_function: the SQL shiftleft takes a COLUMN bit count
            # (the python F.shiftleft binding wants a literal int)
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("p") % 64).cast("int")
            ).alias("mask"),
        )
        .groupBy("bucket")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .collect()  # bounded: <= m_bits/64 rows regardless of key count
    )
    bitmap = [0] * (m_bits // 64)
    for r in buckets:
        bitmap[int(r["bucket"])] = int(r["bits"])
    return bitmap


def bloom_might_contain(
    bitmap: list[int],
    key_col: Column,
    m_bits: int = 1 << 16,
    n_hashes: int = 3,
    salt: str = "bf",
) -> Column:
    """Membership test against a :func:`bloom_bitmap` as a PURE COLUMN
    EXPRESSION — the bitmap ships as an array literal inside the plan
    (the same way Spark's own runtime row-level filtering broadcasts
    its bloom), so probing is codegen'd scan-side work: no join, no
    shuffle, no Python. False positives only (rate ≈ (1-e^{-kn/m})^k);
    never a false negative — so `prefilter AND exact-join` is exactly
    the semi-join, with the shuffle fed only by the survivors.
    """
    # One parsed SQL literal, not len(bitmap) F.lit() Py4J round-trips
    # (~1000 driver calls would dominate plan-build time).
    arr = F.expr("array(" + ", ".join(f"{x}L" for x in bitmap) + ")")
    cond = None
    for j in range(n_hashes):
        p = md5_long(F.concat(F.lit(f"{salt}{j}_"), key_col)) % F.lit(m_bits)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        hit = (
            F.element_at(arr, ((p / 64).cast("long") + 1).cast("int")).bitwiseAND(
                bit
            )
            != 0
        )
        cond = hit if cond is None else (cond & hit)
    return cond


def mixture_rates(
    docs: "DataFrame",
    token_budget: int,
    weights: dict[str, float] | None = None,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float | None = None,
) -> "DataFrame":
    """Per-source sampling rates for a token-budgeted training mixture:
    (source, tokens_available, rate).

    ``token_budget`` is the total token target; ``weights`` its split
    across sources (default: equal). Each source's rate is
    ``min(1, budget_s / tokens_s)`` — undersized sources keep all
    their tokens (rate 1), oversized ones downsample. One hash
    aggregate over the corpus (partial-agg, shuffle = |sources| rows);
    the rate table is dimension-sized by construction.

    ``alpha`` (exclusive with ``weights``) switches to TEMPERATURE
    weighting: w_s ∝ tokens_s^α — the standard multilingual/multi-
    domain rebalancing exponent (α=1 reproduces the natural
    distribution, α→0 the uniform one; 0.3–0.7 is the usual
    flatten-the-head range). Weights are derived relationally from the
    same totals aggregate (a window sum over the dimension-sized rate
    table), so the plan stays one corpus pass regardless.
    """
    from pyspark.sql import functions as F

    from ..functions.text import ws_token_count

    tok = docs.select(
        F.col(source_col).alias("source"),
        ws_token_count(F.col(text_col)).cast("long").alias("__t"),
    )
    totals = tok.groupBy("source").agg(F.sum("__t").alias("tokens_available"))
    if alpha is not None:
        if weights is not None:
            raise ValueError("pass either weights or alpha, not both")
        from pyspark.sql import Window

        w = Window.partitionBy()
        pw = F.pow(F.col("tokens_available").cast("double"), F.lit(float(alpha)))
        rated = totals.withColumn(
            "__budget", F.lit(float(token_budget)) * pw / F.sum(pw).over(w)
        )
    elif weights is None:
        # equal split: budget / |sources| — computed relationally so the
        # plan stays one aggregate even when sources are discovered at
        # runtime (a window count over the dimension-sized rate table).
        from pyspark.sql import Window

        w = Window.partitionBy()
        budget_s = F.lit(float(token_budget)) / F.count(F.lit(1)).over(w)
        rated = totals.withColumn("__budget", budget_s)
    else:
        spark = docs.sparkSession
        wdf = spark.createDataFrame(
            [(s, float(v)) for s, v in weights.items()], "source string, __w double"
        )
        # LEFT join + explicit failure on unweighted sources: an inner
        # join would silently drop every source missing from the dict
        # (one typo'd key and that source vanishes from the training
        # mixture with no signal). The observed-source set is
        # dimension-sized, so the validation collect is bounded.
        joined = totals.join(F.broadcast(wdf), "source", "left")
        missing = [
            r["source"] for r in joined.filter(F.col("__w").isNull()).collect()
        ]
        if missing:
            raise ValueError(
                f"weights missing for observed sources: {sorted(missing)}; "
                "list every source explicitly (weight 0.0 to exclude one)"
            )
        rated = joined.withColumn(
            "__budget", F.lit(float(token_budget)) * F.col("__w")
        )
    return rated.select(
        "source",
        "tokens_available",
        F.round(
            F.least(F.lit(1.0), F.col("__budget") / F.col("tokens_available")), 6
        ).alias("rate"),
    )


def mixture_sample(
    docs: "DataFrame",
    token_budget: int,
    weights: dict[str, float] | None = None,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float | None = None,
) -> "DataFrame":
    """Deterministic token-budgeted mixture sample: keep each document
    with its source's :func:`mixture_rates` probability, decided by the
    document's own hash (no RNG, partition-invariant, reproducible
    across runs and engines).

    The rate table broadcasts; the corpus pass is scan + broadcast join
    + hash filter — documents never shuffle. E[kept tokens per source]
    = min(budget_s, tokens_s); exactness improves with corpus size
    (hash uniformity), which is the regime the operator targets.
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import md5_long
    from ..functions.text import ws_token_count

    rates = mixture_rates(
        docs, token_budget, weights, source_col, text_col, alpha
    )
    bucket = md5_long(F.concat(F.lit("mix_"), F.col(id_col))) % 1000000
    return (
        docs.select(
            F.col(id_col),
            F.col(source_col).alias("source"),
            ws_token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        )
        .join(F.broadcast(rates), "source")
        .filter(bucket < F.round(F.col("rate") * 1000000, 0).cast("long"))
        .select(id_col, "source", "n_tokens", "rate")
    )


def inverted_index(
    docs: DataFrame,
    min_df: int = 2,
    max_postings: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token → posting-list inverted index, the IR primitive behind
    corpus search, targeted decontamination lookups, and
    which-documents-mention audits.

    Output: (token, df, postings) where ``df`` is the document
    frequency and ``postings`` the ``max_postings`` LOWEST doc ids
    containing the token, comma-joined ascending (a STRING so external
    verifiers hash it canonically). ``min_df`` drops hapax noise;
    ``max_postings`` bounds the row width — the full list for hot
    tokens (stopwords appear in every document) would otherwise make
    single rows corpus-sized. Both caps are the standard posting-list
    controls, and both are deterministic (lowest ids, not arbitrary).

    Plan: explode to DISTINCT (token, doc) pairs map-side, then ONE
    hash aggregation by token — collect_set is bounded per token only
    after the sort+slice, so memory per key is the token's df until
    the cap applies; for 100 TB, pre-cap with a per-partition
    ``slice(sort_array(...))`` combine or bucket the hot tail by
    ``min_df``/stopword filters upstream.
    """
    from ..operators.dedup import tokenize

    pairs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("token"),
    )
    agg = pairs.groupBy("token").agg(
        F.count_distinct("doc_id").cast("long").alias("df"),
        F.slice(
            F.sort_array(F.collect_set("doc_id")), 1, max_postings
        ).alias("__post"),
    )
    return agg.filter(F.col("df") >= min_df).select(
        "token",
        "df",
        F.array_join(F.col("__post").cast("array<string>"), ",").alias("postings"),
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    overlapping ``chunk_tokens``-token windows advancing by ``stride``
    tokens — the context-window packing precursor (embed a long doc,
    index passages for retrieval, fit a training sequence length).

    Output: (doc_id, chunk_idx, n_tokens, chunk_text). Chunk starts are
    ``0, stride, 2·stride, …`` while ``start < max(n - overlap, 1)``
    where ``overlap = chunk_tokens - stride``: the last window is the
    FIRST one that reaches the document's end (coverage is guaranteed —
    ``s_max + chunk_tokens >= n`` — and no redundant tail window that a
    prior window already fully covers is emitted, so chunks never
    duplicate content windows). Zero-token documents produce zero
    chunks. Deterministic: pure per-row arithmetic, no RNG, invariant
    to partitioning.

    Plan: pure column algebra over one corpus scan — tokenize, build
    the start sequence with ``sequence()``, explode, ``slice`` +
    ``array_join`` per chunk. No shuffle at all; at 100 TB this is a
    map-only stage whose output partitioning inherits the scan's.
    """
    if chunk_tokens <= 0 or stride <= 0 or stride > chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    from ..operators.dedup import tokenize

    overlap = chunk_tokens - stride
    toks = tokenize(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__toks"),
        F.size(toks).alias("__n"),
    ).filter(F.col("__n") > 0)
    # inclusive upper bound for starts: max(n - overlap - 1, 0)
    last_start = F.greatest(
        F.col("__n") - F.lit(overlap + 1), F.lit(0)
    )
    exploded = base.select(
        "doc_id",
        "__toks",
        F.explode(
            F.sequence(F.lit(0), last_start, F.lit(stride))
        ).alias("__start"),
    )
    chunk = F.slice(
        F.col("__toks"), F.col("__start") + 1, F.lit(chunk_tokens)
    )
    return exploded.select(
        "doc_id",
        (F.col("__start") / F.lit(stride)).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def boilerplate_shingles(
    docs: DataFrame,
    k: int = 3,
    min_share: float = 0.05,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source boilerplate dictionary — the k-word shingles that
    appear in at least ``min_share`` of the source's documents
    (``(source, shingle, df, share)``).

    The template-text detector behind C4/CCNet-style boilerplate
    removal: navigation chrome, license banners, and cookie notices
    repeat across most pages of a site, so a shingle's per-source
    document frequency separates template from content. Downstream,
    :func:`boilerplate_ratio` scores each document against this
    dictionary.

    Scale shape: shingles are distinct-per-document
    (:func:`..dedup.word_shingles`), so ``count(*)`` per
    (source, shingle) IS document frequency — one explode, one
    shuffle keyed by (source, shingle), map-side partial counts. The
    |sources|-row totals table broadcasts. Output size is bounded by
    construction: a shingle needs df ≥ min_share·n_docs, so each
    source emits at most avg_distinct_shingles_per_doc / min_share
    rows — independent of corpus size. (At 100 TB the shuffle would
    carry md5 shingle hashes instead of strings; strings are kept
    here for the value-exact oracle and human-readable dictionary.)
    """
    flat = docs.select(
        F.col(source_col).alias("source"),
        F.explode(word_shingles(F.col(text_col), k)).alias("shingle"),
    )
    totals = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    dfc = flat.groupBy("source", "shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        dfc.join(F.broadcast(totals), "source")
        .withColumn("share", F.round(F.col("df") / F.col("n_docs"), 6))
        .filter(F.col("share") >= min_share)
        .select("source", "shingle", "df", "share")
    )


def boilerplate_ratio(
    docs: DataFrame,
    k: int = 3,
    min_share: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-document boilerplate score: the fraction of a doc's distinct
    k-word shingles that are in its source's boilerplate dictionary
    (``(doc_id, n_shingles, n_boiler, boilerplate_ratio)``).

    The filtering face of :func:`boilerplate_shingles` — docs that are
    mostly template text (high ratio) get dropped or down-weighted by
    a quality gate, exactly how public web-corpus pipelines cut
    chrome-only pages.

    Scale shape: the dictionary subtree is corpus-size-bounded per
    source (see :func:`boilerplate_shingles`), so the doc-side join is
    a BROADCAST hash join on (source, shingle) — the corpus's exploded
    shingles never shuffle; the only wide exchange is the per-doc
    count aggregate keyed by doc_id.
    """
    dictionary = boilerplate_shingles(
        docs, k, min_share, text_col=text_col, source_col=source_col
    ).select("source", "shingle", F.lit(1).alias("__boiler"))
    exploded = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.explode_outer(word_shingles(F.col(text_col), k)).alias("shingle"),
    )
    marked = exploded.join(F.broadcast(dictionary), ["source", "shingle"], "left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("shingle").alias("n_shingles"),
            F.count("__boiler").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.col("n_boiler") / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("boilerplate_ratio"),
        )
    )


def source_cap_sample(
    docs: DataFrame,
    cap: int = 100,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic per-source document cap: keep at most ``cap``
    documents from each source, chosen by hash order
    (``(doc_id, source, cap_rank)``).

    The over-represented-domain guard every web corpus applies —
    without it one crawl-heavy site dominates the mixture. Hash order
    (not id order) makes the kept set a uniform sample of the source,
    and rerun/engine-invariant: whether a doc survives is recomputable
    from (id, cap) alone.

    Scale shape: one shuffle keyed by source for the rank window; rows
    carry (id, source, hash) only. Skewed giant sources rank in one
    partition by design (the cap decision is inherently per-source
    sequential) — at extreme skew, pre-filter with an approximate
    per-source count gate before the window.
    """
    from pyspark.sql import Window

    h = md5_long(F.concat(F.lit("cap_"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
        )
        .withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= cap)
    )


def leakage_safe_split(
    docs: DataFrame,
    threshold: float = 0.5,
    eval_mod: int = 10,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup-aware train/eval split: ``(doc_id, group_id, split)``
    where no near-duplicate pair ever straddles the split.

    A plain hash split leaks: a doc and its 99%-similar copy land on
    opposite sides and the eval set silently measures memorization.
    Here the split unit is the near-dup CLUSTER (``dedup_clusters``:
    MinHash-LSH candidates, exact-Jaccard verify, connected
    components), singleton docs form their own group, and the whole
    group goes to eval iff ``md5_long('split_' || group_id) %
    eval_mod == 0`` — deterministic, engine-portable, rerun-stable.

    Scale shape: everything up to the group id is the established
    sub-quadratic cluster path; the split decision itself adds one
    group-keyed left join (cluster table is pair-bounded, far smaller
    than the corpus) and pure column algebra — no new wide shuffle.
    """
    from .dedup import dedup_clusters

    clusters = dedup_clusters(
        docs, threshold=threshold, k=k, text_col=text_col, id_col=id_col
    ).withColumnRenamed(id_col, "doc_id")
    gid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            gid.alias("group_id"),
            F.when(
                md5_long(F.concat(F.lit("split_"), gid.cast("string")))
                % F.lit(eval_mod)
                == 0,
                F.lit("eval"),
            )
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    )


def takedown_propagation(
    docs: DataFrame,
    optout_mod: int = 7,
    threshold: float = 0.5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Opt-out/takedown deletion propagated through the duplicate
    graph: ``(doc_id, reason)`` for every document that must be
    removed when a set of sources opts out of training.

    Deleting only ``source IN optout`` is not enough — the same text
    typically survives as crawl copies under OTHER sources, so honest
    takedown must also remove every document in the same (near-)dup
    cluster as any directly-opted-out doc. ``reason`` distinguishes
    ``source_optout`` (direct hit) from ``duplicate_of_optout``
    (removed because a near-identical copy was opted out).

    The opt-out set here is derived deterministically
    (``md5_long('optout_' || source) % optout_mod == 0``) so the
    operator is oracle-checkable; production callers pass their own
    list by pre-filtering and unioning on the same shape.

    Scale shape: clusters come from the sub-quadratic
    ``dedup_clusters`` path; the propagation adds one group-sized
    aggregate (any-direct-hit flag per group) and one group-keyed
    join — group tables are pair-bounded, corpus bodies never
    re-shuffle.
    """
    from .dedup import dedup_clusters

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        (
            md5_long(F.concat(F.lit("optout_"), F.col(source_col)))
            % F.lit(optout_mod)
            == 0
        ).alias("direct"),
    )
    clusters = dedup_clusters(
        docs, threshold=threshold, k=k, text_col=text_col, id_col=id_col
    ).withColumnRenamed(id_col, "doc_id")
    g = base.join(clusters, "doc_id", "left").select(
        "doc_id",
        "direct",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("gid"),
    )
    flagged = g.groupBy("gid").agg(F.max("direct").alias("group_hit"))
    return (
        g.join(flagged, "gid")
        .filter(F.col("group_hit"))
        .select(
            "doc_id",
            F.when(F.col("direct"), F.lit("source_optout"))
            .otherwise(F.lit("duplicate_of_optout"))
            .alias("reason"),
        )
    )


def mixture_epochs(
    docs: DataFrame,
    temperature: float = 0.7,
    budget_factor: float = 1.0,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source mixture SCHEDULE under a global token budget:
    ``(source, n_docs, tokens, weight, epochs)``.

    The planning twin of ``temperature_mixture_sample``: instead of
    sampling rows, it computes how many PASSES (epochs / repeat
    factors) over each source a training run should take so the
    realized token mixture matches the temperature-scaled weights —
    the "small high-quality sources repeat, the big crawl runs
    under one epoch" schedule large-LM data recipes publish.

    - ``weight_s = share_s^T / Σ share^T`` (T<1 flattens toward
      uniform, lifting small sources),
    - ``epochs_s = (budget_factor · total_tokens · weight_s) /
      tokens_s``.

    Scale shape: ONE aggregation pass over the corpus (per-source doc
    and token counts — map-side combined), then pure column algebra
    over the source-sized table with the totals carried by a window
    over that table, not a join-back that would rescan the corpus.

    Degenerate input: a source whose every document tokenizes to
    nothing has ``tokens = 0`` and no meaningful share — its weight
    and epochs are division-by-zero artifacts (null/NaN depending on
    engine). Filter empty documents upstream (every curation pipeline
    here does) before scheduling.
    """
    from pyspark.sql import Window

    from .dedup import tokenize

    per_src = docs.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokenize(F.col(text_col)))).alias("tokens"),
    )
    w = Window.partitionBy()
    share = F.col("tokens") / F.sum("tokens").over(w)
    powed = F.pow(share, F.lit(float(temperature)))
    weight = powed / F.sum(powed).over(w)
    epochs = (
        F.lit(float(budget_factor)) * F.sum("tokens").over(w) * weight
    ) / F.col("tokens")
    return per_src.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("tokens").cast("long").alias("tokens"),
        F.round(weight, 6).alias("weight"),
        F.round(epochs, 6).alias("epochs"),
    )


def content_defined_chunks(
    docs: DataFrame,
    k: int = 3,
    divisor: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_text: bool = False,
) -> DataFrame:
    """Content-defined chunking (rolling-hash boundaries):
    ``(doc_id, chunk_idx, n_tokens, chunk_hash)``, plus ``chunk_text``
    when ``include_text=True`` (the rewrite path needs the bodies; the
    inventory path ships hashes only).

    Fixed-size chunking (``chunk_documents``) breaks at arbitrary
    offsets, so inserting one sentence shifts every later boundary and
    defeats chunk-level dedup. Here a chunk boundary falls after token
    ``j`` whenever the k-gram ending at ``j`` hashes to
    ``0 mod divisor`` — boundaries are a function of LOCAL content
    only (the Rabin/CDC principle backup systems and dedup stores
    use), so an edit perturbs at most the chunk it touches and its
    neighbor, and identical passages in different documents produce
    identical chunk hashes ready for exact-hash dedup. Expected chunk
    length ≈ ``divisor`` tokens; docs with < k tokens form one chunk;
    empty docs yield nothing.

    Scale shape: Arrow-batched ``mapInPandas`` — one linear pass per
    document, zero shuffle, hashing-parity with ``md5_long`` via its
    Python twin ``hashing.md5_60`` (asserted in tests). The Catalyst column-algebra formulation was measured
    and rejected: the span/boundary arrays are each referenced once,
    so CollapseProject inlines the whole chain into the explode's
    generator expression and the shingle-hash array re-evaluates per
    array element — O(n²·k) md5s per doc, 32 s vs 0.5 s at sf0.01
    (the same Catalyst-lambda recompute that made
    ``minhash_signatures`` default to its pandas strategy).
    """
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    if k < 1 or divisor < 1:
        raise ValueError("k and divisor must be >= 1")
    id_type = docs.schema[id_col].dataType
    fields = [
        StructField("doc_id", id_type),
        StructField("chunk_idx", IntegerType()),
        StructField("n_tokens", IntegerType()),
        StructField("chunk_hash", LongType()),
    ]
    if include_text:
        from pyspark.sql.types import StringType

        fields.append(StructField("chunk_text", StringType()))
    schema = StructType(fields)
    kk, div, with_text = k, divisor, include_text

    def chunk(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            out: dict[str, list] = {f.name: [] for f in fields}
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in (text or "").split(" ") if t]
                n = len(toks)
                if n == 0:
                    continue
                bounds = [
                    j
                    for j in range(kk, n + 1)
                    if md5_60(" ".join(toks[j - kk : j])) % div == 0
                ]
                ci = 0
                for s, e in zip([1] + [b + 1 for b in bounds], bounds + [n]):
                    if s > e:  # trailing boundary exactly at n
                        continue
                    ci += 1
                    piece = " ".join(toks[s - 1 : e])
                    out["doc_id"].append(did)
                    out["chunk_idx"].append(ci)
                    out["n_tokens"].append(e - s + 1)
                    out["chunk_hash"].append(md5_60(piece))
                    if with_text:
                        out["chunk_text"].append(piece)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(chunk, schema)


def cross_source_dup_matrix(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix:
    ``(source_a, source_b, n_pairs)`` — how many near-dup pairs link
    each (unordered) pair of sources.

    The provenance/licensing view of the dedup graph: a heavy
    off-diagonal cell means source B is largely a re-crawl/mirror of
    source A (so its license/opt-out status should follow A's), and
    the diagonal measures within-source redundancy. Pairs come from
    the sub-quadratic MinHash-LSH + exact-verify path; attribution
    adds two id-keyed joins against the (id, source) projection and a
    source-pair-sized aggregate — document bodies never re-shuffle.
    """
    from .dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        docs, threshold=threshold, k=k, text_col=text_col, id_col=id_col,
        verify=True,
    )
    src = docs.select(F.col(id_col), F.col(source_col).alias("__src"))
    a = src.select(F.col(id_col).alias("id_a"), F.col("__src").alias("src_a"))
    b = src.select(F.col(id_col).alias("id_b"), F.col("__src").alias("src_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def dup_weighted_docs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ndigits: int = 6,
) -> DataFrame:
    """Soft exact dedup: ``(doc_id, dup_count, weight)`` with
    ``weight = 1 / copies-of-this-text`` — every document is KEPT but
    a text duplicated n times contributes total weight 1 to training,
    the downweighting alternative to dropping copies (preserves
    within-group diversity of metadata/routing while removing the
    over-representation bias).

    Scale shape: one hash-groupBy on md5(text) (the exact_dedup
    shuffle — (hash, id) pairs, never bodies) and one hash-keyed join
    back; weights are pure column algebra, rounded for engine
    parity.
    """
    counts = (
        docs.select(F.md5(F.col(text_col)).alias("__th"))
        .groupBy("__th")
        .agg(F.count(F.lit(1)).alias("dup_count"))
    )
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("__th"))
        .join(counts, "__th")
        .select(
            F.col(id_col),
            F.col("dup_count").cast("long").alias("dup_count"),
            F.round(F.lit(1.0) / F.col("dup_count"), ndigits).alias("weight"),
        )
    )


def cdc_dedup_rewrite(
    docs: DataFrame,
    k: int = 3,
    divisor: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Chunk-level dedup REWRITE over content-defined chunks:
    ``(doc_id, n_chunks, kept_chunks, new_text)`` where each document
    is rebuilt from only the FIRST corpus-wide occurrence (by
    ``(doc_id, chunk_idx)``) of each chunk hash.

    The payoff of :func:`content_defined_chunks`: because boundaries
    are content-defined, a passage copied between documents chunks
    identically wherever it lands, so this removes repeated passages
    ACROSS documents — the cross-document complement of
    ``substring_dedup_rewrite`` (which targets within-corpus repeated
    substrings at exact shingle granularity). A doc whose every chunk
    was seen earlier rewrites to the empty string (``kept_chunks=0``).

    Scale shape: the keep decision ranks NARROW (hash, id, idx) rows
    in one hash-keyed window; chunk bodies shuffle exactly twice —
    once into that window's exchange and once for the per-doc rebuild
    — both linear in corpus bytes (the substring-rewrite "bodies
    shuffle once per stage" discipline). Rebuild order is restored
    with ``array_sort`` over (chunk_idx, text) structs, so the result
    is deterministic under any partitioning.
    """
    from pyspark.sql import Window

    chunks = content_defined_chunks(
        docs, k=k, divisor=divisor, text_col=text_col, id_col=id_col,
        include_text=True,
    )
    w = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    kept = (
        chunks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("kept_chunks"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("chunk_idx").alias("i"),
                            F.col("chunk_text").alias("t"),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
        ).alias("new_text"),
    )
    return per_doc.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("kept_chunks", F.lit(0)).cast("long").alias("kept_chunks"),
        F.coalesce("new_text", F.lit("")).alias("new_text"),
    )


def kanonymity_report(
    df: DataFrame, quasi_cols: list[Column | str], k: int = 5
) -> DataFrame:
    """k-anonymity equivalence-class report over quasi-identifiers:
    one row per class with ``class_size`` and an ``at_risk`` flag
    (class smaller than ``k`` — those rows are re-identifiable by the
    quasi-identifier combination and must be suppressed or generalized
    before release; Sweeney 2002).

    One hash aggregation; with map-side combine the shuffle is
    class-bounded, never row-bounded — the standard pre-release check
    on a 100 TB user-event export costs one scan."""
    cols = [F.col(c) if isinstance(c, str) else c for c in quasi_cols]
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .withColumn("at_risk", F.col("class_size") < F.lit(k))
    )


def kanonymity_generalize(
    df: DataFrame,
    static_quasi: list[str],
    numeric_col: str,
    widths: list[float],
    k: int = 5,
) -> tuple[float | None, DataFrame]:
    """Pick the narrowest banding of ``numeric_col`` under which the
    (static_quasi..., band) classes are k-anonymous, and return
    ``(chosen_width, report)`` — the minimal-information-loss
    generalization ladder.

    All candidate widths are evaluated in ONE scan: the row fans out
    |widths|× into (width, class) cells, one aggregation computes every
    class size, and the per-width minima reduce to |widths| rows (a
    bounded collect decides the ladder). ``chosen_width`` is None when
    even the widest band fails — caller must suppress instead."""
    fan = F.explode(
        F.array(*[F.lit(float(w)) for w in sorted(widths)])
    ).alias("w")
    cells = df.select(*static_quasi, F.col(numeric_col).alias("v"), fan)
    classes = (
        cells.withColumn("band", F.floor(F.col("v") / F.col("w")).cast("long"))
        .groupBy("w", *static_quasi, "band")
        .agg(F.count(F.lit(1)).alias("class_size"))
    )
    minima = {
        r["w"]: r["m"]
        for r in classes.groupBy("w").agg(F.min("class_size").alias("m")).collect()
    }
    chosen = next((w for w in sorted(widths) if minima.get(w, 0) >= k), None)
    if chosen is None:
        return None, classes.limit(0)
    report = classes.filter(F.col("w") == chosen).select(
        *static_quasi,
        F.col("band"),
        F.col("class_size").cast("long").alias("class_size"),
    )
    return chosen, report


__all__ += ["kanonymity_report", "kanonymity_generalize"]

def per_group_sample_k(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    salt: str = "pgs",
) -> DataFrame:
    """Deterministic uniform-without-replacement sample of exactly
    ``min(k, |group|)`` rows per group — the eval-set / spot-check
    sampler (reference serves per-user top-25 the same per-group-k
    shape, ``engine.py:73-81``; here the "score" is a hash, so the
    pick is uniform rather than score-ranked).

    Sampling IS top-k over a hash order: rank rows within each group
    by ``md5_long(salt || id)`` and keep rank ≤ k. Because the order
    key is a pure function of the row id, the sample is identical
    across engines, partitionings, and reruns — none of which holds
    for seeded ``sample()``, whose output depends on partition layout.

    Scale shape: one hash-partition shuffle on ``group_col`` (the same
    cost any per-group ranking pays); AQE splits skewed groups. Rows
    carry only (group, id, hash) through the shuffle — project first
    and re-join payloads by id afterwards when rows are wide.
    """
    from .windows import per_group_top_k

    hashed = df.withColumn(
        "__h",
        md5_long(F.concat(F.lit(salt + "_"), F.col(id_col).cast("string"))),
    )
    return (
        per_group_top_k(
            hashed,
            group_col,
            [F.col("__h").asc(), F.col(id_col).asc()],
            k,
            rank_col="sample_rank",
        )
        .drop("__h")
    )


def kfold_assign(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    salt: str = "fold",
) -> DataFrame:
    """Group-aware k-fold assignment: every row gets ``fold =
    md5_long(salt || group) % k``, so ALL rows of a group land in the
    same fold — cross-validation without leakage between folds for
    group-correlated rows (the same guarantee leakage_safe_split gives
    the train/eval boundary, extended to k folds).

    Deterministic and engine-portable (no RNG, no state); adding rows
    for an existing group never moves the group, so folds are stable
    under incremental ingest. Pure column algebra on the scan — zero
    shuffle beyond whatever the consumer aggregates.
    """
    return df.withColumn(
        "fold",
        (
            md5_long(F.concat(F.lit(salt + "_"), F.col(group_col).cast("string")))
            % F.lit(k)
        ).cast("int"),
    )


__all__ += ["per_group_sample_k", "kfold_assign"]


def weighted_sample_noreplace(
    df: DataFrame,
    weight_col: str,
    n: int,
    group_cols: list[str] | None = None,
    id_col: str = "doc_id",
    salt: str = "wsr",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: exactly
    ``min(n, |eligible|)`` rows (per group when ``group_cols`` is set),
    where a row's inclusion probability scales with ``weight_col`` —
    the fixed-budget counterpart of ``quality_weighted_sample`` (which
    is Bernoulli: its output SIZE varies with the weight distribution;
    a training-data budget is usually "give me exactly n docs").

    Efraimidis–Spirakis A-Res (2006): draw u ∈ (0,1] per row, rank by
    key = u^(1/w) descending, keep the top n — provably equivalent to
    sequential weighted draws without replacement. Here u is the
    PORTABLE HASH uniform ``(md5_long(salt||id)+1) / 2^60`` instead of
    RNG, so the sample is identical across engines, partitionings, and
    reruns (same discipline as ``per_group_sample_k``, which is the
    w≡const special case). Ranking uses the monotone-equivalent
    ``ln(u)/w`` (no pow), rounded to 9 digits with an id tiebreak so
    both engines order identically.

    Rows with NULL or non-positive weight are excluded (a zero-weight
    row must never be drawn; negative weights are undefined).

    Scale shape: grouped → one hash-partition shuffle + per-group rank
    (AQE splits skew); global → ``orderBy().limit(n)`` which Spark
    plans as TakeOrderedAndProject — each partition keeps its local
    top-n, only n·|partitions| candidate rows reach the final heap, no
    global sort. Rows carry one extra double through the shuffle.
    """
    from pyspark.sql.window import Window

    u = (
        md5_long(F.concat(F.lit(salt + "_"), F.col(id_col).cast("string"))) + 1
    ).cast("double") / F.lit(float(1 << 60))
    es = F.round(F.log(u) / F.col(weight_col).cast("double"), 9)
    eligible = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("es_key", es)
    order = [F.col("es_key").desc(), F.col(id_col).asc()]
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(*order)
        return (
            eligible.withColumn("pos", F.row_number().over(w))
            .filter(F.col("pos") <= n)
        )
    # global: distributed top-n first, then rank the n survivors
    top = eligible.orderBy(*order).limit(n)
    return top.withColumn("pos", F.row_number().over(Window.orderBy(*order)))


def neyman_allocation(
    df: DataFrame,
    stratum_cols: list[str],
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Minimum-variance stratified-sample allocation (Neyman 1934):
    given a stratification and a target total sample size, allocate
    ``n_h ∝ N_h·σ_h`` — strata that are large or internally variable
    get more of the budget, so the stratified estimator's variance is
    minimized for the fixed total. The eval-set design step before
    ``per_group_sample_k`` draws the per-stratum rows: profile once,
    allocate, then sample each stratum at its allocated size.

    Output: one row per stratum — (stratum..., n_rows, sd, alloc) with
    Σ alloc = total_n exactly, via largest-remainder rounding (floor
    every raw allocation, then hand the leftover units to the largest
    fractional remainders, stratum-key tiebreak — deterministic and
    engine-portable). Degenerate input (every stratum constant, all
    σ_h = 0) falls back to proportional-to-size allocation rather than
    0/0. NULL values are excluded from both counts and spreads.

    Scale shape: ONE partial-aggregated pass over the facts (count +
    stddev_samp are both map-side combinable); everything after
    operates on the stratum-count-sized profile through unpartitioned
    windows — bounded by construction, same discipline as
    ``kmv_cross_group_overlap``. Allocations can exceed a small
    stratum's population (Neyman's formula is unconstrained); callers
    sampling without replacement get min(alloc, N_h) rows from the
    sampler itself.
    """
    from pyspark.sql.window import Window

    per = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*stratum_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.stddev_samp(value_col), F.lit(0.0)).alias("sd"),
        )
    )
    wall = Window.partitionBy()  # stratum-count rows by construction
    weight = F.col("n_rows").cast("double") * F.col("sd")
    prof = per.select(
        *stratum_cols,
        "n_rows",
        "sd",
        weight.alias("__w"),
        F.sum(weight).over(wall).alias("__ws"),
        F.sum(F.col("n_rows")).over(wall).alias("__ns"),
    )
    raw = F.round(
        F.when(
            F.col("__ws") > 0, F.lit(float(total_n)) * F.col("__w") / F.col("__ws")
        ).otherwise(
            F.lit(float(total_n)) * F.col("n_rows") / F.col("__ns")
        ),
        6,
    )
    based = prof.select(
        *stratum_cols,
        "n_rows",
        "sd",
        F.floor(raw).cast("long").alias("__base"),
        F.round(raw - F.floor(raw), 6).alias("__rem"),
    )
    worder = Window.orderBy(
        F.col("__rem").desc(), *[F.col(c).asc() for c in stratum_cols]
    )
    return based.select(
        *stratum_cols,
        "n_rows",
        F.round(F.col("sd"), 6).alias("sd"),
        (
            F.col("__base")
            + (
                F.row_number().over(worder)
                <= (F.lit(total_n) - F.sum("__base").over(wall))
            ).cast("long")
        ).alias("alloc"),
    )


__all__ += ["weighted_sample_noreplace", "neyman_allocation"]


def curriculum_interleave(
    docs: DataFrame,
    source_col: str,
    order_by: "list[Column]",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum schedule: rank documents within each source by the
    given ordering (best first), then interleave the sources
    round-robin into one global training order — every source's k-th
    best document lands in the k-th block of the schedule, so early
    training sees the best of EVERY source instead of draining the
    largest one first.

    The scale trick is that the global position is ARITHMETIC, not a
    global sort: ``sched_pos = (within_rank - 1) * n_sources +
    source_idx`` is collision-free by construction, so the only
    data-sized work is the per-source ranking window (one shuffle on
    ``source_col``; a dominant source serializes its own ranking task
    — the quantile-bucket refinement documented in percentile.py is
    the escape hatch at extreme skew). The source index and count
    come from a sources-sized distinct + broadcast join.

    Returns (id, source, ``within_rank``, ``sched_pos``), both ranks
    1-based.
    """
    from pyspark.sql import Window

    w_src = Window.partitionBy(source_col).orderBy(*order_by)
    ranked = docs.select(
        F.col(id_col),
        F.col(source_col),
        F.row_number().over(w_src).cast("long").alias("within_rank"),
    )
    w_all = Window.orderBy(F.col(source_col).asc())  # sources-sized
    sources = (
        docs.select(source_col)
        .distinct()
        .select(
            F.col(source_col),
            F.dense_rank().over(w_all).cast("long").alias("__src_idx"),
            F.count(F.lit(1)).over(
                Window.partitionBy()
            ).cast("long").alias("__n_src"),
        )
    )
    return (
        ranked.join(F.broadcast(sources), source_col)
        .select(
            id_col,
            source_col,
            "within_rank",
            (
                (F.col("within_rank") - 1) * F.col("__n_src")
                + F.col("__src_idx")
            ).alias("sched_pos"),
        )
    )
