"""Text-analysis operators for training-data pipelines: language ID
(n-gram heuristic), quality scoring, token counting, document
fingerprinting. All pure Spark SQL (JVM-side, codegen) except where noted.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the heuristic language scorer —
# deliberately small; real deployments would plug a fastText-style model in
# as a pandas UDF (same plumbing)
_LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "de", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
}


def token_count(col: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.col(col), r"\s+"))


def bpe_ish_token_count(col: str = "text") -> Column:
    """BPE-ish token estimate: word chunks + digit runs + punctuation marks,
    long words counted as ceil(len/6) subword pieces."""
    words = F.split(F.lower(F.col(col)), r"[^a-z0-9]+")
    pieces = F.aggregate(
        words,
        F.lit(0),
        lambda acc, w: acc + F.when(F.length(w) == 0, 0).otherwise(
            F.ceil(F.length(w) / 6.0).cast("int")
        ),
    )
    puncts = F.length(F.regexp_replace(F.col(col), r"[a-zA-Z0-9\s]", ""))
    return (pieces + puncts).alias("bpe_tokens")


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: per-language stopword hit-rate; argmax with a
    deterministic tiebreak. Adds (lang_pred, lang_score)."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    scores = []
    for lang, words in sorted(_LANG_PROFILES.items()):
        hit = F.size(F.filter(toks, lambda x: x.isin(*words)))
        scores.append(F.struct((hit / F.size(toks)).alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return df.withColumn("lang_pred", best["lang"]).withColumn("lang_score", best["score"])


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite doc-quality features (the usual pre-training filters):
    length, mean word length, type-token ratio, stopword ratio, digit/punct
    ratios, max word repetition share; plus a [0,1] composite."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    n = F.size(toks).cast("double")
    out = (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("n_chars", F.length(text_col))
        .withColumn("mean_word_len", (F.length(text_col) - (F.size(toks) - 1)) / n)
        .withColumn("type_token_ratio", F.size(F.array_distinct(toks)) / n)
        .withColumn(
            "stopword_ratio",
            F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "is"))) / n,
        )
        .withColumn(
            "digit_ratio",
            F.length(F.regexp_replace(F.col(text_col), r"[^0-9]", "")) / F.length(text_col),
        )
    )
    # composite: in-range bonuses, repetition penalty
    comp = (
        F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 5000), 0.25).otherwise(0.0)
        + F.when((F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 12), 0.25).otherwise(0.0)
        + F.when(F.col("type_token_ratio") >= 0.2, 0.25).otherwise(0.0)
        + F.when(F.col("digit_ratio") <= 0.2, 0.25).otherwise(0.0)
    )
    return out.withColumn("quality", comp)


def fingerprint(
    df: DataFrame, text_col: str = "text", window: int = 8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing-style document fingerprint: rolling hash over token
    windows, keep the minimum hash per document plus the full-text hash.
    (A compact two-value signature; the shingle set itself lives in
    dedup.minhash_signatures.) hash_fn="md5" makes the values bit-exactly
    reproducible in DuckDB (driver-oracle path)."""
    from sentometrics_spark.textops.dedup import hash64

    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - window, F.lit(0))),
        lambda i: hash64(
            F.concat_ws(" ", F.slice(toks, i + 1, window)), hash_fn=hash_fn
        ),
    )
    return df.withColumn("fp_min", F.array_min(grams)).withColumn(
        "fp_full", hash64(F.col(text_col), hash_fn=hash_fn)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full winnowing fingerprint set (Schleimer, Wilkerson & Aiken,
    SIGMOD'03): hash every k-gram of tokens, slide a window of ``window``
    consecutive k-gram hashes, select the minimum hash per window with the
    RIGHTMOST position winning ties, and emit the distinct selected
    (pos, hash) pairs. Guarantees any shared token run of length
    >= k + window - 1 between two documents shares a fingerprint.

    Scale shape: one explode to (doc, pos, hash) rows, one window pass
    partitioned by doc (right-aligned ``window`` rows), one distinct — all
    JVM-side; no self-joins. hash_fn="md5" makes the selected hashes
    bit-exact in DuckDB (driver-oracle path)."""
    from pyspark.sql.window import Window

    from sentometrics_spark.textops.dedup import hash64

    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: hash64(F.concat_ws(" ", F.slice(toks, i + 1, k)), hash_fn=hash_fn),
    )
    hashes = df.select(
        id_col, F.posexplode(grams).alias("pos", "h")
    )
    # right-aligned window of `window` hashes; min of (h, -pos) implements
    # "smallest hash, rightmost position on ties" in one struct comparison
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    picked = hashes.select(
        id_col,
        "pos",
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w).alias("sel"),
        F.count("*").over(w).alias("w_n"),
    )
    # emit only from full windows (docs shorter than window+k-1 tokens keep
    # their single global pick via the final fallback distinct)
    full = picked.filter(F.col("w_n") == window)
    short = (
        picked.groupBy(id_col)
        .agg(F.max("w_n").alias("mx"), F.min("sel").alias("sel"))
        .filter(F.col("mx") < window)
        .select(id_col, "sel")
    )
    out = full.select(id_col, "sel").unionByName(short)
    return out.select(
        id_col,
        (-F.col("sel.np")).alias("pos"),
        F.col("sel.h").alias("fp_hash"),
    ).distinct()


_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition + quality filters (Rae et al. 2021 §A1.1,
    adapted to token fractions): share of tokens claimed by the most
    frequent word 2-/3-gram, fraction of duplicated 5-gram instances,
    alphabetic-word fraction, stop-word presence, mean word length — plus
    the composite pass/fail gate a pre-training pipeline would filter on.

    Scale shape: per-doc array math stays JVM-side; the n-gram frequency
    counts are ONE exploded groupBy keyed by (doc, n, gram) with map-side
    partial counts, then one per-doc rollup — no self-joins, nothing
    quadratic in document length."""
    toks = F.split(F.lower(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col),
        toks.alias("t"),
        F.size(toks).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
    )

    def gram_structs(ng: int):
        seq = F.sequence(F.lit(0), F.col("n_tokens") - ng)
        g = F.transform(
            seq,
            lambda i: F.struct(
                F.lit(ng).alias("ng"),
                F.concat_ws(" ", F.slice(F.col("t"), i + 1, ng)).alias("gram"),
            ),
        )
        return F.when(F.col("n_tokens") >= ng, g).otherwise(F.array())

    # all three n-gram streams from ONE pass over the corpus (a union of
    # three explode branches would scan the source three times)
    gram_rows = base.select(
        id_col,
        F.explode(
            F.concat(gram_structs(2), gram_structs(3), gram_structs(5))
        ).alias("x"),
    ).select(id_col, F.col("x.ng").alias("ng"), F.col("x.gram").alias("gram"))
    per_gram = gram_rows.groupBy(id_col, "ng", "gram").agg(F.count("*").alias("c"))
    per_doc_ng = per_gram.groupBy(id_col, "ng").agg(
        F.max("c").alias("max_c"),
        F.sum("c").alias("total"),
        F.count("*").alias("n_distinct"),
    )
    rep = per_doc_ng.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("ng") == ng, F.col(c))).alias(f"{c}_{ng}")
            for ng in (2, 3, 5)
            for c in ("max_c", "total", "n_distinct")
        ]
    )

    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    stats = base.select(
        id_col,
        "n_tokens",
        ((F.col("n_chars") - (F.col("n_tokens") - 1)) / F.col("n_tokens")).alias(
            "mean_word_len"
        ),
        (
            F.size(F.filter(F.col("t"), lambda x: x.rlike("[a-z]")))
            / F.col("n_tokens").cast("double")
        ).alias("alpha_word_frac"),
        F.size(F.array_intersect(F.array_distinct(F.col("t")), stop_arr)).alias(
            "stopword_hits"
        ),
    )

    out = stats.join(rep, id_col, "left")
    frac = lambda ng: F.coalesce(
        F.col(f"max_c_{ng}") * ng / F.col("n_tokens").cast("double"), F.lit(0.0)
    )
    dup5 = F.coalesce(
        (F.col("total_5") - F.col("n_distinct_5")) / F.col("total_5").cast("double"),
        F.lit(0.0),
    )
    out = (
        out.withColumn("top_bigram_frac", frac(2))
        .withColumn("top_trigram_frac", frac(3))
        .withColumn("dup_5gram_frac", dup5)
    )
    passes = (
        F.col("n_tokens").between(50, 100_000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("alpha_word_frac") > 0.8)
        & (F.col("stopword_hits") >= 2)
        & (F.col("top_bigram_frac") <= 0.20)
        & (F.col("top_trigram_frac") <= 0.18)
        & (F.col("dup_5gram_frac") <= 0.30)
    )
    return out.select(
        id_col,
        "n_tokens",
        "mean_word_len",
        "alpha_word_frac",
        "stopword_hits",
        "top_bigram_frac",
        "top_trigram_frac",
        "dup_5gram_frac",
        passes.alias("passes_gopher"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard pre-training/context-window chunking step. Chunk starts step
    by (chunk_tokens - overlap); the last window is the remainder (never
    empty, never duplicated: a final partial window is emitted only if it
    adds tokens beyond the previous chunk). Pure array math + one explode;
    no shuffle at all — chunking is embarrassingly row-parallel."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    # starts: 0, step, 2*step, ... while start + overlap < n  (i.e. the
    # chunk contributes at least one new token past the previous one)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(step)).cast("int"), F.lit(1)
    )
    starts = F.transform(F.sequence(F.lit(0), n_chunks - 1), lambda i: i * step)
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("start"),
            F.concat_ws(" ", F.slice(toks, s + 1, chunk_tokens)).alias("chunk"),
            F.least(n - s, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return df.select(
        id_col, F.posexplode(chunks).alias("chunk_id", "c")
    ).select(
        id_col,
        "chunk_id",
        F.col("c.start").alias("start_tok"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk").alias("chunk"),
    )


# (name, RE2-safe pattern, replacement) applied IN ORDER — ipv4 before
# phone so dotted quads are never half-eaten by the looser phone pattern,
# card (pure 13-16 digit run) before phone for the same reason
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}(\.\d{1,3}){3}\b", "<IP>"),
    ("card", r"\b\d{13,16}\b", "<CARD>"),
    # digit-GROUP structure with single separators, not a free [\d\s().-]
    # run: an unbounded class merged adjacent space-separated numbers into
    # one match and swallowed ISO dates. Requiring >=3 groups where the
    # 3rd has 3-4 digits excludes yyyy-mm-dd (day is 2 digits) while
    # keeping +1 555 123 4567 / (555) 123-4567 / 0171 234 5678 shapes.
    ("phone",
     r"\+?\(?\d{1,4}\)?[\s.-]\(?\d{2,4}\)?[\s.-]\d{3,4}([\s.-]\d{2,4}){0,2}\b",
     "<PHONE>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing for training corpora: redact emails, IPv4 addresses,
    long card-like digit runs, and phone-like digit strings with typed
    placeholder tokens; adds per-type match counts and a has_pii flag.
    Patterns apply sequentially (each counted on the text as already
    redacted by earlier stages, so a dotted quad is one <IP>, never also a
    phone). All JVM-side regex, RE2-safe so a SQL oracle can replay the
    identical chain."""
    c = F.col(text_col)
    counts = []
    for name, pat, rep in PII_PATTERNS:
        counts.append(F.regexp_count(c, F.lit(pat)).alias(f"n_{name}"))
        c = F.regexp_replace(c, pat, rep)
    out = df.select("*", *counts, c.alias(f"{text_col}_redacted"))
    has = None
    for name, _, _ in PII_PATTERNS:
        e = F.col(f"n_{name}") > 0
        has = e if has is None else (has | e)
    return out.withColumn("has_pii", has)


def domain_of(col: str = "url") -> Column:
    """Host portion of a URL (scheme://host/...), JVM-side regex."""
    return F.regexp_extract(F.col(col), r"^[a-z][a-z0-9+.-]*://([^/]+)", 1)


# path/query passes shared verbatim with the SQL oracle
# (entry_queries._sql_url_canonical), all RE2-safe. Path and query are
# canonicalized SEPARATELY: slash collapsing must never rewrite '//'
# inside query values, and the tracking-param strip is anchored to a
# preceding [?&] so a param merely CONTAINING 'utm_...' (e.g. autm_src)
# is untouched.
URL_PATH_PASSES: tuple[tuple[str, str], ...] = (
    (r"//+", "/"),  # duplicate slashes inside the path only
    (r"/$", ""),  # trailing slash (incl. bare-root '/')
)
URL_QUERY_PASSES: tuple[tuple[str, str], ...] = (
    # drop tracking params, keeping the introducing [?&] (replacement $1);
    # the trailing '&' is NOT consumed, so back-to-back tracking params all
    # match in one global pass — leftover runs are collapsed next
    (r"([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*", "$1"),
    (r"&&+", "&"),
    (r"\?&", "?"),
    (r"[?&]+$", ""),  # a then-empty (or dangling-separator) query
)


def canonicalize_url(col: str = "url") -> Column:
    """Canonical URL form for crawl dedup (all JVM-side regex, codegen):
    lowercase scheme+host, strip the fragment, strip default ports
    (:80/:443), drop a trailing "/" on the path, collapse duplicate
    slashes in the path (not the scheme's // or query values), strip
    common tracking query parameters (utm_*, fbclid, gclid — anchored to
    [?&]), and drop a then-empty query."""
    # every step is RE2-safe (no lookaround) so the DuckDB oracle runs the
    # character-identical patterns
    c = F.regexp_replace(F.col(col), r"#.*$", "")
    sh = F.lower(F.regexp_extract(c, r"^([A-Za-z0-9+.-]*://[^/?]*)", 1))
    sh = F.regexp_replace(sh, r":(80|443)$", "")
    rest = F.regexp_replace(c, r"^[A-Za-z0-9+.-]*://[^/?]*", "")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_replace(rest, r"^[^?]*", "")
    for pat, rep in URL_PATH_PASSES:
        path = F.regexp_replace(path, pat, rep)
    for pat, rep in URL_QUERY_PASSES:
        query = F.regexp_replace(query, pat, rep)
    return F.concat(sh, path, query)


def url_duplicates(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Groups of rows whose URLs canonicalize identically (same-page
    fetches under tracking params / fragments / default ports): a plain
    groupBy on the canonical key — one bounded shuffle."""
    return (
        df.select(id_col, canonicalize_url(url_col).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("group_size"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("members"),
        )
        .filter(F.col("group_size") > 1)
    )


def domain_stats(df: DataFrame, url_col: str = "url", text_col: str = "text") -> DataFrame:
    """Per-domain corpus stats for crawl curation: doc count, mean token
    count, distinct languages. Hot domains are the skewed-key case; like
    doc_agg.aggregate_docs, this plain groupBy(domain) aggregates map-side
    before it shuffles, so a hot domain ships at most one partial row per
    (map task, language), never its documents."""
    toks = F.size(F.split(F.col(text_col), " "))
    return (
        df.select(domain_of(url_col).alias("domain"), toks.alias("n"), "lang")
        .groupBy("domain")
        .agg(
            F.count("*").alias("documents"),
            F.avg("n").alias("mean_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def _lm_tokens_arrow(texts):
    """Shared Arrow-side tokenization for the LM kernels: lowercase,
    split on single spaces, empty tokens dropped (the same token stream
    the expression path's filter(t != '') produces). Returns
    (bucket-ready uint64 token hashes flat, doc offsets, doc lengths)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(texts.astype(str))
    toks = pc.split_pattern(pc.utf8_lower(arr), " ")
    flat = pc.list_flatten(toks)
    keep = pc.not_equal(flat, "")
    # drop empty tokens while keeping per-doc lengths consistent: count
    # empties per doc and subtract
    lens_all = np.asarray(
        pc.list_value_length(toks).to_numpy(zero_copy_only=False), dtype=np.int64
    )
    flat_np_keep = np.asarray(keep.to_numpy(zero_copy_only=False), dtype=bool)
    doc_ids = np.repeat(np.arange(len(lens_all)), lens_all)
    kept_per_doc = np.bincount(doc_ids[flat_np_keep], minlength=len(lens_all))
    dic = flat.filter(keep).dictionary_encode()
    idx = np.asarray(dic.indices.to_numpy(zero_copy_only=False), dtype=np.int64)
    vocab = np.asarray(dic.dictionary.to_pylist(), dtype=object)
    th = pd.util.hash_array(vocab).astype(np.uint64)[idx]
    offs = np.concatenate(([0], np.cumsum(kept_per_doc)[:-1]))
    return th, offs, kept_per_doc


def fit_unigram_lm(
    df: DataFrame,
    text_col: str = "text",
    buckets: int = 65536,
    hash_fn: str = "xxhash64",
) -> list:
    """FIT pass of the hashed unigram LM: per-bucket log2-probabilities
    with add-one smoothing over the bucket space,

        log2 p(b) = log2( (c_b + 1) / (N + buckets) ).

    hash_fn="xxhash64" (production) uses the Arrow/numpy kernel (tokens
    dictionary-encoded C-side, pd.util.hash_array over the unique vocab —
    the _simhash_arrow doctrine: a different hash family with identical
    bucket statistics); "md5" keeps a pure-expression pipeline whose every
    bucket DuckDB reproduces bit-exactly for the driver oracle. Either
    way the shuffle is bounded at ``buckets`` rows per partition and the
    collected table is ``buckets`` doubles (512 KB at the 65536 default).
    Pin the returned table per corpus snapshot (pass it back as ``lm=``,
    same hash_fn/buckets) exactly like the TFIDF df maps
    (udf_engine.tfidf_corpus_stats) so incremental batches score against
    a frozen LM."""
    import math

    from sentometrics_spark.textops.dedup import hash64

    if hash_fn == "xxhash64":

        def cnt(batches):
            import pandas as pd

            for pdf in batches:
                texts = pdf[text_col][pdf[text_col].notna()]
                if not len(texts):
                    continue
                th, _, _ = _lm_tokens_arrow(texts)
                bc = np.bincount(
                    (th % np.uint64(buckets)).astype(np.int64), minlength=buckets
                )
                nz = np.nonzero(bc)[0]
                yield pd.DataFrame({"b": nz, "c": bc[nz]})

        rows = (
            df.select(text_col)
            .mapInPandas(cnt, "b long, c long")
            .groupBy("b")
            .agg(F.sum("c").alias("c"))
            .collect()
        )
    else:
        toks = F.filter(
            F.split(F.lower(F.col(text_col)), " "), lambda t: t != ""
        )
        rows = (
            df.select(F.explode(toks).alias("token"))
            .select(
                F.pmod(hash64(F.col("token"), hash_fn=hash_fn), F.lit(buckets)).alias("b")
            )
            .groupBy("b")
            .agg(F.count("*").alias("c"))
            .collect()
        )
    c = [0] * buckets
    for r in rows:
        c[r["b"]] = r["c"]
    n = sum(c)
    return [math.log2((c[b] + 1.0) / (n + float(buckets))) for b in range(buckets)]


def lm_cross_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 65536,
    hash_fn: str = "xxhash64",
    lm: list | None = None,
) -> DataFrame:
    """Hashed unigram-LM quality proxy (perplexity stand-in without an
    external LM): cross-entropy in bits/token of each document under the
    corpus's own hashed-unigram distribution with add-one smoothing —

        p(b) = (c_b + 1) / (N + buckets),
        H(doc) = -(1/n_d) Σ_i log2 p(bucket(tok_i))

    Tokens are hashed into ``buckets`` (the standard hashing trick; at the
    65536 default, head-token collisions are negligible and the gate ranks
    documents identically to the exact-vocabulary LM). Low H = the
    document looks like the corpus (common tokens); high H =
    rare-token-heavy (gibberish, boilerplate IDs, other languages). Used
    as a curation gate the same way a KenLM perplexity filter is.

    Scale shape — the DSIR fit-then-score shape (dsir_importance), NOT a
    token-keyed join: the round-3 formulation joined every token
    occurrence on the raw token key, a zipfian-skewed shuffle ("the" is
    ~5% of all rows) that AQE papers over locally but which dominates at
    10^12 tokens. Here:
      1. FIT (eager, skippable via ``lm=``): bounded groupBy(bucket),
         collected to a ``buckets``-entry log-prob table;
      2. SCORE (map-only): the table travels with the task (numpy array
         in the Arrow kernel's closure on the production path; one
         array-literal expression on the md5 oracle path) and each
         document folds its token buckets over it — no explode, no doc-
         or token-keyed shuffle at all.

    hash_fn="xxhash64" (production) dispatches to the Arrow/numpy kernel;
    "md5" keeps the pure-expression path, every value of which DuckDB
    reproduces bit-exactly for the driver oracle (same doctrine as
    simhash/_simhash_arrow). An ``lm=`` pin must come from
    fit_unigram_lm with the SAME hash_fn and buckets."""
    from sentometrics_spark.textops.dedup import hash64

    if lm is None:
        lm = fit_unigram_lm(df, text_col=text_col, buckets=buckets, hash_fn=hash_fn)
    elif len(lm) != buckets:
        raise ValueError(f"lm has {len(lm)} entries, expected buckets={buckets}")

    if hash_fn == "xxhash64":
        import pandas as pd

        id_type = dict(
            zip(df.columns, (f.dataType.simpleString() for f in df.schema))
        )[id_col]
        out_schema = f"{id_col} {id_type}, cross_entropy_bits double, n_tokens long"
        lmv = np.asarray(lm, dtype=np.float64)

        def score(batches):
            for pdf in batches:
                pdf = pdf[pdf[text_col].notna()]
                if not len(pdf):
                    continue
                ids = pdf[id_col].to_numpy()
                th, offs, lens = _lm_tokens_arrow(pdf[text_col])
                if len(th) == 0:
                    continue  # every doc in the batch tokenized to nothing
                lp_tok = lmv[(th % np.uint64(len(lmv))).astype(np.int64)]
                # reduceat rejects an offset == len (trailing zero-token
                # docs); clamp — those docs are masked out below anyway
                sums = np.add.reduceat(lp_tok, np.minimum(offs, len(lp_tok) - 1))
                # reduceat on an empty doc span returns the NEXT doc's
                # first element; mask zero-token docs out entirely
                nz = lens > 0
                sums = np.where(nz, sums, 0.0)
                out = pd.DataFrame(
                    {
                        id_col: ids[nz],
                        "cross_entropy_bits": -sums[nz] / lens[nz],
                        "n_tokens": lens[nz],
                    }
                )
                if len(out):
                    yield out

        return df.select(id_col, text_col).mapInPandas(score, out_schema)

    # md5 / expression path: the literal array is built with ONE parsed
    # expression (F.lit over a Python list issues a py4j call per element
    # — 65536 of them cost more than the query itself)
    lp = F.expr("array(" + ",".join(f"{v!r}D" for v in lm) + ")")
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
    n_tok = F.size(toks)
    ssum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        + F.get(lp, F.pmod(hash64(t, hash_fn=hash_fn), F.lit(buckets))),
    )
    return (
        df.select(id_col, ssum.alias("_s"), n_tok.alias("_n"))
        .filter(F.col("_n") > 0)
        .select(
            id_col,
            (-F.col("_s") / F.col("_n")).alias("cross_entropy_bits"),
            F.col("_n").cast("long").alias("n_tokens"),
        )
    )


def dsir_importance(
    df: DataFrame,
    is_target,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    buckets: int = 256,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """DSIR-style hashed n-gram importance weights for domain-matched data
    selection (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling", public method description): features are word
    n-gram occurrences hashed into ``buckets``; the per-document log
    importance weight is

        log w(d) = Σ_{f in d} log( p_target(bucket(f)) / p_raw(bucket(f)) )

    with add-one smoothing over the bucket space on both distributions.
    ``is_target`` is a boolean Column marking the target-domain rows
    INSIDE ``df`` (raw = the whole input, the common in-corpus setup; for
    a separate target corpus, union it in with the flag set). Sampling
    proportional to exp(log_weight) then matches the target's hashed
    n-gram profile.

    Scale shape, two corpus passes like the paper's fit-then-score:
      1. FIT (eager, like tfidf_corpus_stats): explode grams ->
         groupBy(bucket) with map-side partials — the shuffle is <=
         ``buckets`` rows per partition — and collect the ``buckets``-entry
         log-ratio table to the driver (it is 2 KB);
      2. SCORE (map-only): the log-ratio table is inlined as a literal
         array and each document folds its hashed grams over it in one
         per-row aggregate — NO doc-keyed shuffle at all, and n_feats is
         plain arithmetic on the token count.
    Nothing scales with corpus size except the two linear passes."""
    from sentometrics_spark.textops.dedup import hash64

    toks = F.split(F.lower(F.col(text_col)), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    bucket_of = lambda g: F.pmod(hash64(g, hash_fn=hash_fn), F.lit(buckets))

    dist_rows = (
        df.select(
            F.coalesce(is_target, F.lit(False)).alias("is_t"),
            F.explode(grams).alias("g"),
        )
        .select("is_t", bucket_of(F.col("g")).alias("b"))
        .groupBy("b")
        .agg(
            F.count("*").alias("c_raw"),
            F.sum(F.col("is_t").cast("long")).alias("c_t"),
        )
        .collect()
    )
    import math

    c_raw = [0] * buckets
    c_t = [0] * buckets
    for r in dist_rows:
        c_raw[r["b"]] = r["c_raw"]
        c_t[r["b"]] = r["c_t"]
    n_raw, n_t = sum(c_raw), sum(c_t)
    lr = [
        math.log((c_t[b] + 1.0) / (n_t + float(buckets)))
        - math.log((c_raw[b] + 1.0) / (n_raw + float(buckets)))
        for b in range(buckets)
    ]
    lr_arr = F.array(*[F.lit(v) for v in lr])

    log_weight = F.aggregate(
        grams,
        F.lit(0.0),
        lambda acc, g: acc + F.get(lr_arr, bucket_of(g)),
    )
    n_feats = F.greatest(F.size(toks) - n, F.lit(0)) + 1
    return df.select(
        id_col,
        log_weight.alias("log_weight"),
        n_feats.cast("long").alias("n_feats"),
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int = 1,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """CCNet-style cross-document line deduplication (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data" — public procedure): lines whose normalized form (trimmed,
    lowercased) occurs more than ``max_df`` times across the corpus are
    dropped from every document — the standard boilerplate killer
    (headers, nav bars, cookie banners) applied before doc-level dedup.
    Blank lines are structural and never counted or dropped.

    Returns (id, clean_text, n_lines, n_dropped).

    Scale shape: explode to (doc, pos, line-hash) -> ONE groupBy(hash)
    with map-side partials for the global occurrence counts -> left join
    of the bounded dup-hash set back on the hash key (zipfian for
    mega-boilerplate lines; the build side is one row per hash, so AQE
    skew-split papers the probe side) -> one uniform doc-keyed groupBy to
    reassemble the text. No self-join, nothing quadratic."""
    from sentometrics_spark.textops.dedup import hash64

    lines = df.filter(F.col(text_col).isNotNull()).select(
        id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    )
    norm = F.trim(F.lower(F.col("line")))
    lines = lines.withColumn(
        "h", F.when(norm != "", hash64(norm, hash_fn=hash_fn))
    )
    dup = (
        lines.filter(F.col("h").isNotNull())
        .groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > max_df)
        .select("h", F.lit(True).alias("is_dup"))
    )
    marked = lines.join(dup, "h", "left").withColumn(
        "drop", F.coalesce(F.col("is_dup"), F.lit(False))
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(
                ~F.col("drop"), F.struct(F.col("pos").alias("p"), F.col("line").alias("l"))
            )
        )
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.concat_ws("\n", F.transform(kept, lambda s: s["l"])).alias("clean_text"),
            F.count("*").alias("n_lines"),
            F.sum(F.col("drop").cast("long")).alias("n_dropped"),
        )
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str | None = None,
    n_buckets: int = 3,
    mode: str = "quantile",
    buckets: int = 65536,
    hash_fn: str = "xxhash64",
    lm: list | None = None,
) -> DataFrame:
    """CCNet head/middle/tail split (Wenzek et al. 2020 §4.4, public
    procedure): rank documents by LM cross-entropy (lm_cross_entropy) and
    cut the corpus into ``n_buckets`` equal-count buckets per language —
    bucket 1 ("head") = most fluent, highest = "tail". Returns
    (id, [lang], cross_entropy_bits, n_tokens, bucket, bucket_label).

    mode="quantile" (production): per-language cut points via ONE
    approx-percentile aggregate (bounded rows collected), then a map-only
    bucket assignment — no global sort, scale-safe at 10^12 docs.
    mode="ntile" (exact): a per-language window sort with deterministic
    (score, id) ordering — exact equal counts, reproducible bit-for-bit by
    a SQL oracle, but pays a full sort per language; use for bounded
    corpora and cross-checks."""
    from pyspark.sql.window import Window

    ce = lm_cross_entropy(
        df, id_col=id_col, text_col=text_col, buckets=buckets,
        hash_fn=hash_fn, lm=lm,
    )
    if lang_col is not None:
        ce = ce.join(df.select(id_col, lang_col), id_col)
        part_cols = [lang_col]
    else:
        part_cols = []

    if mode == "ntile":
        w = Window.partitionBy(*part_cols).orderBy("cross_entropy_bits", id_col)
        out = ce.withColumn("bucket", F.ntile(n_buckets).over(w))
    elif mode == "quantile":
        probs = [i / n_buckets for i in range(1, n_buckets)]
        cuts = ce.groupBy(*part_cols).agg(
            F.percentile_approx("cross_entropy_bits", probs, 10000).alias("cuts")
        )
        joined = ce.join(F.broadcast(cuts), part_cols) if part_cols else ce.crossJoin(
            F.broadcast(cuts)
        )
        out = joined.withColumn(
            "bucket",
            F.aggregate(
                "cuts",
                F.lit(1),
                lambda acc, c: acc
                + F.when(F.col("cross_entropy_bits") > c, 1).otherwise(0),
            ),
        ).drop("cuts")
    else:
        raise ValueError(f"mode must be ntile|quantile, got {mode}")

    label = (
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == n_buckets, "tail")
        .otherwise("middle")
        if n_buckets == 3
        else F.concat(F.lit("b"), F.col("bucket").cast("string"))
    )
    return out.withColumn("bucket_label", label)
