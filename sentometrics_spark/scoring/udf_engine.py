"""Arrow-batched scoring engine (C1-C6): the Spark analogue of the
reference's RcppParallel C++ workers.

One ``mapInPandas`` pass over the corpus; lexicons/valence shifters travel
as a Spark broadcast (the analogue of the C++ ``unordered_map`` lexiconMap,
/root/reference/src/utils.h:25-63). Inside a batch everything is numpy over
a flattened token array — token->polarity lookup via a C-level pandas map,
per-document reductions via ``np.add.at`` — no per-row Python in the hot
unigram/bigram path. The cluster engine needs sequential per-document state
(non-overlapping clusters, /root/reference/src/SentimentScorerClusters.h:89-90)
and loops only over lexicon hits.

Engines (dispatch mirrors compute_sentiment_lexicons,
/root/reference/R/sentiment_engines.R:32-66):
  unigram  SentimentScorerOnegrams.h:32-77
  bigram   SentimentScorerBigrams.h:34-83   (valence table with 'y')
  cluster  SentimentScorerClusters.h:34-102 (valence table with 't')

Output: long sentiment table (url, warc_ts, lang, word_count, lexicon,
feature, score).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sentometrics_spark.corpus import check_language_coverage, feature_columns
from sentometrics_spark.lexicons import Lexicons

OUT_SCHEMA = (
    "url string, warc_ts timestamp, lang string, word_count int, "
    "lexicon string, feature string, score double"
)


def _positional_weights(how: str, pos: np.ndarray, n: np.ndarray) -> np.ndarray:
    """update_token_weights position formulas (/root/reference/src/utils.h:108-120).
    pos is 1-based token position, n the document token count."""
    x = pos.astype(np.float64)
    y = n.astype(np.float64)
    if how == "UShaped":
        return (x - (y + 1.0) / 2.0) ** 2
    if how == "inverseUShaped":
        return 0.25 - ((x - (y + 1.0) / 2.0) ** 2) / (y**2)
    if how == "exponential":
        return np.exp(5.0 * (x / y - 1.0))
    if how == "inverseExponential":
        return np.exp(5.0 * (1.0 - x / y))
    raise ValueError(how)

_POSITIONAL = ("UShaped", "inverseUShaped", "exponential", "inverseExponential")


def flat_from_texts(texts: pd.Series, pack) -> tuple:
    """Arrow-native tokenize + vocabulary indexing: lower/split/hash-lookup
    run C-side on Arrow buffers — no Python string objects are materialized
    for corpus tokens (the allocation cost otherwise dominates and is the
    multi-core memory-bandwidth bottleneck). ~6x the throughput of the
    pandas str path, bit-identical results.

    Returns (n_docs, lens, doc_idx, pos_in_doc, vid, vy, vt):
      vid: int32 lexicon vocab id per token (-1 = no hit; ids match
           pack.word2id because both use the sorted vocab order)
      vy / vt: float64 valence value / int8 type per token (nan / 0 = none).

    Dtypes are deliberately narrow (int32 ids/indices, int8 types): at high
    thread counts the kernel is memory-bandwidth-bound on a shared bus, so
    bytes moved per token is the scaling-efficiency lever."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from sentometrics_spark.scoring.tokenize import (
        ENDS_NUMBER,
        HAS_LETTER,
        tokenize_arrow,
    )

    n_docs = len(texts)
    arr = pa.Array.from_pandas(texts)
    if arr.null_count:
        # null text (json/csv ingests) == empty doc; unguarded, the null
        # length becomes NaN -> INT64_MIN and np.repeat crashes with an
        # unrelated numpy error deep in the kernel
        arr = pc.fill_null(arr, "")
    toks, needs_letter_filter = tokenize_arrow(arr)
    flat = pc.list_flatten(toks)
    lens = pc.list_value_length(toks).to_numpy(zero_copy_only=False).astype(np.int64)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int32), lens)
    # skip_word_none + skip_word_number: keep tokens containing a letter
    # but not ending in a digit (ICU NUMBER rule status — see ENDS_NUMBER
    # in tokenize.py; tier-0 batches only produce [a-z]* tokens, where
    # nonempty suffices)
    if needs_letter_filter:
        keep = pc.and_not(
            pc.match_substring_regex(flat, HAS_LETTER),
            pc.match_substring_regex(flat, ENDS_NUMBER),
        ).to_numpy(zero_copy_only=False)
    else:
        keep = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
    if not keep.all():
        flat = flat.filter(pa.array(keep))
        doc_idx = doc_idx[keep]
        lens = np.bincount(doc_idx, minlength=n_docs).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens, dtype=np.int64)[:-1]))
    pos_in_doc = (np.arange(len(doc_idx), dtype=np.int64) - offsets[doc_idx]).astype(np.int32)

    vocab = pa.array(sorted(pack.word2id), type=pa.string())
    vid = pc.fill_null(pc.index_in(flat, value_set=vocab), -1).to_numpy(
        zero_copy_only=False
    ).astype(np.int32, copy=False)
    vy = vt = None
    if pack.valence_y:
        val_vocab = sorted(pack.valence_y)
        val_ids = pc.fill_null(
            pc.index_in(flat, value_set=pa.array(val_vocab, type=pa.string())), -1
        ).to_numpy(zero_copy_only=False).astype(np.int32, copy=False)
        vy_vec = np.array([pack.valence_y[w] for w in val_vocab])
        vt_vec = np.array([pack.valence_t[w] for w in val_vocab], dtype=np.int8)
        miss = val_ids < 0
        safe = np.where(miss, 0, val_ids)
        vy = np.where(miss, np.nan, vy_vec[safe])
        vt = np.where(miss, np.int8(0), vt_vec[safe])
    return n_docs, lens, doc_idx, pos_in_doc, vid, vy, vt


def flat_from_tokens(tokens: list[list[str]], pack) -> tuple:
    """List-of-tokens front-end (T3 passthrough, sentence engine, tests).
    Same contract/dtypes as flat_from_texts (vid int32, -1 = no hit)."""
    n_docs = len(tokens)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n_docs)
    flat = [w for doc in tokens for w in doc]
    tok_s = pd.Series(flat, dtype=object)
    doc_idx = np.repeat(np.arange(n_docs, dtype=np.int32), lens)
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1])) if n_docs else np.array([], dtype=np.int64)
    pos_in_doc = (
        (np.arange(len(flat)) - offsets[doc_idx]).astype(np.int32)
        if len(flat)
        else np.array([], dtype=np.int32)
    )
    vid = (
        tok_s.map(pack.word2id).fillna(-1).to_numpy(dtype=np.int32)
        if flat
        else np.array([], dtype=np.int32)
    )
    vy = vt = None
    if pack.valence_y:
        vy = tok_s.map(pack.valence_y).to_numpy(dtype=np.float64, na_value=np.nan) if flat else np.array([])
        vt_s = tok_s.map(pack.valence_t) if flat else pd.Series(dtype=float)
        vt = vt_s.fillna(0).to_numpy(dtype=np.int8) if flat else np.array([], dtype=np.int8)
    return n_docs, lens, doc_idx, pos_in_doc, vid, vy, vt


def score_language_batch(
    tokens: list[list[str]],
    pack,
    how: str,
    mode: str,
    tfidf: tuple[float, dict[str, float]] | None = None,
    positional_norm: str | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one language's documents from token lists. Returns
    (word_count [n], scores [n, nL]). Exact port of the C++ semantics.

    positional_norm overrides the positional-how normalizer basis:
    None = engine default ("all" tokens for unigram, "hits" for bigram);
    the SENTENCE worker calls update_token_weights only at lexicon hits
    (/root/reference/src/SentimentScorerSentences.h:62-67), so the
    sentence engine passes "hits" even in unigram mode."""
    flat = flat_from_tokens(tokens, pack)
    return flat[1], score_flat(flat, pack, how, mode, tfidf, positional_norm)


def score_flat(
    flat: tuple,
    pack,
    how: str,
    mode: str,
    tfidf: tuple[float, dict[str, float]] | None = None,
    positional_norm: str | None = None,
) -> np.ndarray:
    """Scoring core over the flat indexed representation."""
    n_docs, lens, doc_idx, pos_in_doc, vid, vy, vt = flat
    nL = pack.polarity.shape[1]
    scores = np.zeros((n_docs, nL), dtype=np.float64)
    if n_docs == 0 or lens.sum() == 0:
        return scores

    hit_mask = vid >= 0
    hit_idx = np.flatnonzero(hit_mask)
    if len(hit_idx) == 0:
        return scores
    hvid = vid[hit_idx]
    hdoc = doc_idx[hit_idx]
    pol = pack.polarity[hvid]  # [H, nL]
    shifters = np.ones(len(hit_idx), dtype=np.float64)

    if mode == "bigram":
        # shifter = valence value of the token at k = max(0, j - 1): the
        # immediately-preceding token, or the hit token ITSELF at document
        # position 0 — the reference's k clamp makes a doc-initial token
        # that is both a lexicon and a valence word shift its own score
        # (/root/reference/src/SentimentScorerBigrams.h:68-71). The lookup
        # is unconditional: a preceding token that is also a lexicon word
        # still shifts.
        if vy is not None:
            prev = np.where(pos_in_doc[hit_idx] > 0, hit_idx - 1, hit_idx)
            prev_vy = vy[prev]
        else:
            prev_vy = np.full(len(hit_idx), np.nan)
        shifters = np.where(np.isnan(prev_vy), 1.0, prev_vy)

    if mode == "cluster":
        return _score_clusters_flat(flat, pack, how, tfidf)

    # --- token weights -------------------------------------------------
    if how == "counts":
        w = np.ones(len(hit_idx))
    elif how == "proportional":
        w = 1.0 / lens[hdoc]
    elif how == "proportionalSquareRoot":
        w = 1.0 / np.sqrt(lens[hdoc])
    elif how == "proportionalPol":
        # per (doc, lexicon) count of polarized token occurrences
        npol = np.zeros((n_docs, nL))
        np.add.at(npol, hdoc, (pol != 0).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            w_mat = np.where(npol[hdoc] > 0, 1.0 / npol[hdoc], 0.0)  # [H, nL]
        contrib = pol * w_mat * shifters[:, None]
        np.add.at(scores, hdoc, contrib)
        return scores
    elif how == "TFIDF":
        if tfidf is None:
            raise ValueError("TFIDF requires corpus-level (N, df) stats")
        n_corpus, df_map = tfidf
        dfv = _df_by_vid(pack, df_map)[hvid]
        w = np.log10(n_corpus / (1.0 + dfv))
    elif how in _POSITIONAL:
        w_hit = _positional_weights(how, pos_in_doc[hit_idx] + 1, lens[hdoc])
        basis = positional_norm or ("all" if mode == "unigram" else "hits")
        if basis == "all":
            # normalizer over ALL tokens (SentimentScorerOnegrams.h:63-66)
            w_all = _positional_weights(how, pos_in_doc + 1, lens[doc_idx])
            norm = np.zeros(n_docs)
            np.add.at(norm, doc_idx, w_all)
        else:
            # bigram engine: normalizer over hit tokens only
            # (SentimentScorerBigrams.h:55-60)
            norm = np.zeros(n_docs)
            np.add.at(norm, hdoc, w_hit)
        with np.errstate(divide="ignore", invalid="ignore"):
            w = np.where(norm[hdoc] != 0, w_hit / norm[hdoc], 0.0)
    else:
        raise ValueError(f"unknown how: {how}")

    contrib = pol * (w * shifters)[:, None]
    np.add.at(scores, hdoc, contrib)
    return scores


def _df_by_vid(pack, df_map: dict[str, float]) -> np.ndarray:
    """df values aligned to lexicon vocab ids (sorted-vocab order)."""
    return np.array([df_map.get(w, 0.0) for w in sorted(pack.word2id)])


def _score_clusters_flat(flat, pack, how, tfidf):
    """Cluster-valence engine: window of 4 before / 2 after each hit,
    non-overlapping; impact n(1+max(0.8(wA-wD),-1)), negation flips sign
    (/root/reference/src/SentimentScorerClusters.h:34-102,
    compute_cluster_impact /root/reference/src/utils.h:184-191).

    Vectorized over the whole Arrow batch despite the sequential
    non-overlap recurrence: cluster centers are found with a batched
    searchsorted walk — each round picks every active document's next
    center simultaneously and jumps its cursor past the cluster
    (lB = en + 1, next examined index en + 1, matching the C++ jump at
    /root/reference/src/SentimentScorerClusters.h:89-90) — and shifter
    counts come from prefix sums over the flat token stream. Total work is
    O(hits) numpy ops with round count = max clusters in any one document,
    not a Python loop per token."""
    n_docs, lens, doc_idx, pos_in_doc, vid, vy, vt_arr = flat
    nL = pack.polarity.shape[1]
    P = pack.polarity
    scores = np.zeros((n_docs, nL))
    nB, nA = 4, 2
    if vt_arr is None:
        vt_arr = np.zeros(len(doc_idx), dtype=np.int8)
    mask = vid >= 0
    hit_flat = np.flatnonzero(mask)  # flat token index == off[doc] + pos
    if len(hit_flat) == 0:
        return scores
    hdoc = doc_idx[hit_flat].astype(np.int64)
    hpos = pos_in_doc[hit_flat].astype(np.int64)
    lens64 = lens.astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens64)[:-1]))

    # shifter prefix sums over NON-hit tokens (a window token that is a
    # lexicon hit is scored, never counted as a shifter)
    nonhit = ~mask
    s1 = np.concatenate(([0], np.cumsum((vt_arr == 1) & nonhit)))
    s2 = np.concatenate(([0], np.cumsum((vt_arr == 2) & nonhit)))
    s3 = np.concatenate(([0], np.cumsum((vt_arr == 3) & nonhit)))

    # --- center walk: one round per cluster depth, all docs in parallel ---
    docs_u, first_i = np.unique(hdoc, return_index=True)
    cur = first_i.copy()  # per active doc: hit-array index of next center
    lB = np.zeros(len(docs_u), dtype=np.int64)  # left bound (token coords)
    active = np.ones(len(docs_u), dtype=bool)
    n_hits = len(hit_flat)
    is_center = np.zeros(n_hits, dtype=bool)
    center_impact = np.ones(n_hits)
    center_en_g = np.zeros(n_hits, dtype=np.int64)
    while True:
        ai = np.flatnonzero(active)
        if len(ai) == 0:
            break
        c = cur[ai]
        is_center[c] = True
        d = hdoc[c]
        j = hpos[c]
        off = offsets[d]
        en = np.minimum(lens64[d], j + nA + 1)  # exclusive window end
        st = np.maximum(lB[ai], j - nB)
        en_g = off + en
        st_g = off + st
        neg = s1[en_g] - s1[st_g]
        amp = s2[en_g] - s2[st_g]
        deamp = s3[en_g] - s3[st_g]
        nn = neg & 1
        wA = (1 - nn) * amp
        wD = nn * amp + deamp
        impact = 1.0 + np.maximum(0.8 * (wA - wD), -1.0)
        center_impact[c] = np.where(nn == 1, -impact, impact)
        center_en_g[c] = en_g
        resume = en + 1
        nxt = np.searchsorted(hit_flat, off + resume, side="left")
        ok = nxt < n_hits
        nxt_safe = np.where(ok, nxt, 0)
        ok &= hdoc[nxt_safe] == d
        cur[ai] = nxt_safe
        lB[ai] = resume
        active[ai] = ok

    # --- per-hit cluster assignment ---
    # window hits sit strictly AFTER their center (no hit exists in
    # [resume_prev, center): the center is the FIRST such hit), so each
    # hit's cluster is the nearest center at-or-before it; a hit exactly at
    # the skipped index en is in no window and drops out, as in the C++.
    centers = np.flatnonzero(is_center)
    my_center = centers[
        np.searchsorted(centers, np.arange(n_hits), side="right") - 1
    ]
    included = hit_flat < center_en_g[my_center]
    inc = np.flatnonzero(included)
    if len(inc) == 0:
        return scores
    H = hit_flat[inc]
    D = hdoc[inc]
    pol = P[vid[H]]
    shift = np.where(is_center[inc], center_impact[inc], 1.0)
    nd = lens64[D].astype(np.float64)

    if how == "counts":
        w = np.ones(len(inc))
    elif how == "proportional":
        w = 1.0 / nd
    elif how == "proportionalSquareRoot":
        w = 1.0 / np.sqrt(nd)
    elif how == "proportionalPol":
        npol = np.zeros((n_docs, nL))
        np.add.at(npol, D, (pol != 0).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            wm = np.where(npol[D] > 0, 1.0 / npol[D], 0.0)  # [I, nL]
        np.add.at(scores, D, pol * wm * shift[:, None])
        return scores
    elif how == "TFIDF":
        # window hits reuse the CENTER token's corpus frequency variables
        # (/root/reference/src/SentimentScorerClusters.h:74-80)
        n_corpus, df_map = tfidf
        df_vec = _df_by_vid(pack, df_map)
        dfv = df_vec[vid[hit_flat[my_center[inc]]]]
        w = np.log10(n_corpus / (1.0 + dfv))
    elif how in _POSITIONAL:
        # normalizer over the cluster-included positions of each document
        w_raw = _positional_weights(how, hpos[inc] + 1, nd)
        norm = np.zeros(n_docs)
        np.add.at(norm, D, w_raw)
        with np.errstate(divide="ignore", invalid="ignore"):
            w = np.where(norm[D] != 0, w_raw / norm[D], 0.0)
    else:
        raise ValueError(f"unknown how: {how}")

    np.add.at(scores, D, pol * (shift * w)[:, None])
    return scores


def tfidf_corpus_stats(
    pages: DataFrame, lexicons: Lexicons, tokens_col: str | None = None
) -> dict[str, tuple[float, dict[str, float]]]:
    """Corpus-level (N, df) per language, pinned per input snapshot (C6,
    /root/reference/src/utils.h:193-210). df is only needed for lexicon
    words (weights only multiply scores at lexicon hits), so the collected
    map stays tiny at any corpus scale.

    df is computed from the SAME token stream the scoring engine scores —
    flat_from_texts over 'text', or flat_from_tokens over ``tokens_col``
    when the caller supplies a pre-tokenized column (T3) — so the frequency
    maps count exactly the tokens that get scored; the reference builds both
    maps from the one supplied tokenization
    (/root/reference/src/compute_sentiment_onegrams.cpp:26-27)."""
    spark = pages.sparkSession
    packs = {lang: lexicons.pack(lang) for lang in lexicons.languages}
    bc = spark.sparkContext.broadcast(packs)
    in_col = tokens_col if tokens_col is not None else "text"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        packs_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            langs: list[str] = []
            tokens: list[str] = []
            counts: list[int] = []
            for lang, grp in pdf.groupby("lang", sort=False):
                pack = packs_b.get(lang)
                if pack is None:
                    raise ValueError(f"no lexicon for language: {lang}")
                vocab = sorted(pack.word2id)
                if tokens_col is not None:
                    flat = flat_from_tokens([list(t) for t in grp[in_col]], pack)
                else:
                    flat = flat_from_texts(grp[in_col], pack)
                n_docs, _lens, doc_idx, _pos, vid, _vy, _vt = flat
                hit = vid >= 0
                if hit.any():
                    pairs = np.unique(
                        np.stack([doc_idx[hit], vid[hit]]), axis=1
                    )
                    vids, dfc = np.unique(pairs[1], return_counts=True)
                    for v, c in zip(vids, dfc):
                        langs.append(lang)
                        tokens.append(vocab[int(v)])
                        counts.append(int(c))
                langs.append(lang)
                tokens.append("")  # doc-count marker
                counts.append(int(n_docs))
            if langs:
                yield pd.DataFrame({"lang": langs, "token": tokens, "c": counts})

    rows = (
        pages.select("lang", in_col)
        .mapInPandas(gen, schema="lang string, token string, c long")
        .groupBy("lang", "token")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    out: dict[str, tuple[float, dict[str, float]]] = {}
    for r in rows:
        if r["token"] == "":
            out[r["lang"]] = (float(r["c"]), out.get(r["lang"], (0.0, {}))[1])
    for r in rows:
        if r["token"]:
            out[r["lang"]][1][r["token"]] = float(r["c"])
    return out


def language_scorer(
    pages: DataFrame,
    lexicons: Lexicons,
    how: str,
    mode: str | None = None,
    tokens_col: str | None = None,
    validate_langs: str = "fail",
):
    """The scoring front-end of every Arrow scoring pass: resolves
    ``mode``, runs the driver-side guards, broadcasts the lexicon packs
    (and the TFIDF corpus stats), and returns ``(feats, lex_names,
    score_batch)``. ``score_batch(pdf)`` runs on the executor and yields,
    per language group of one Arrow batch, ``(lang, grp, word_count [n],
    score_lf [n, K])`` with the (lexicon x feature) score block laid out
    lexicon-major, K = len(lex_names) * len(feats).

    mode: None => auto (unigram if no valence; bigram if valence 'y';
    cluster if valence 't' — compute_sentiment docs,
    /root/reference/R/sentiment_engines.R:36-51). Explicit 'unigram' ignores
    valence."""
    if mode is None:
        if not lexicons.valence:
            mode = "unigram"
        else:
            # valence table shape drives the engine, as in the reference:
            # a (x, y) table -> bigram shifting, a (x, t) table -> cluster
            mode = "cluster" if lexicons.valence_use == "t" else "bigram"
    if mode not in ("unigram", "bigram", "cluster"):
        raise ValueError(f"unknown mode: {mode}")
    if lexicons.pretokenized_langs and tokens_col is None:
        raise ValueError(
            "lexicons declare pretokenized_langs="
            f"{sorted(lexicons.pretokenized_langs)} but no tokens_col= was "
            "given: segment those languages first (scoring.segment."
            "segment_corpus) and pass the token column, otherwise the "
            "built-in UAX-29 tokenizer would silently mis-segment them."
        )

    check_language_coverage(pages, set(lexicons.lex), validate_langs)

    feats = feature_columns(pages)
    # all languages must share the lexicon-name set so the wide score block
    # has a fixed layout (true by sento_lexicons construction per language)
    lex_names = lexicons.lexicon_names()
    for lang in lexicons.languages:
        if sorted(lexicons.lex[lang]) != lex_names:
            raise ValueError("lexicon names must be identical across languages")
    k = len(lex_names) * len(feats)

    packs = {lang: lexicons.pack(lang) for lang in lexicons.languages}
    tfidf_stats = (
        tfidf_corpus_stats(pages, lexicons, tokens_col) if how == "TFIDF" else None
    )
    bc = pages.sparkSession.sparkContext.broadcast((packs, tfidf_stats))

    def score_batch(pdf: pd.DataFrame):
        packs_b, tfidf_b = bc.value
        for lang, grp in pdf.groupby("lang", sort=False):
            pack = packs_b.get(lang)
            if pack is None:
                raise ValueError(f"no lexicon for language: {lang}")
            if tokens_col is not None:
                flat = flat_from_tokens([list(t) for t in grp[tokens_col]], pack)
            else:
                flat = flat_from_texts(grp["text"], pack)
            tf = tfidf_b.get(lang) if tfidf_b else None
            scores = score_flat(flat, pack, how, mode, tf)
            fvals = grp[feats].to_numpy(dtype=np.float64)  # [n, F]
            score_lf = (scores[:, :, None] * fvals[:, None, :]).reshape(len(grp), k)
            yield lang, grp, flat[1], score_lf

    return feats, lex_names, score_batch


def compute_sentiment_udf(
    pages: DataFrame,
    lexicons: Lexicons,
    how: str = "proportional",
    mode: str | None = None,
    tokens_col: str | None = None,
    validate_langs: str = "fail",
) -> DataFrame:
    """C9: one mapInPandas pass -> long sentiment table.

    mode: see :func:`language_scorer`.

    tokens_col: T3 caller-supplied tokenization override — the name of an
    array<string> column of pre-tokenized unigrams that replaces the
    internal tokenizer (tokens= passthrough,
    /root/reference/R/sentiment_engines.R:11-12,234-240)."""
    feats, lex_names, score_batch = language_scorer(
        pages, lexicons, how, mode, tokens_col, validate_langs
    )
    text_in = tokens_col if tokens_col is not None else "text"
    in_cols = ["url", "warc_ts", "lang", text_in, *feats]
    k = len(lex_names) * len(feats)

    # The UDF emits the (lexicon x feature) score block as K plain double
    # columns — no row expansion or repeated strings cross the Arrow
    # boundary (serialization, not the numpy kernel, otherwise dominates).
    # The long format is produced JVM-side by a codegen'd stack().
    wide_schema = (
        "url string, warc_ts timestamp, lang string, word_count int, "
        + ", ".join(f"s_{i} double" for i in range(k))
    )

    def score_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_parts = []
            for lang, grp, lens, score_lf in score_batch(pdf):
                cols = {
                    "url": grp["url"].to_numpy(),
                    "warc_ts": grp["warc_ts"].to_numpy(),
                    "lang": lang,
                    "word_count": lens.astype(np.int32),
                }
                for i in range(k):
                    cols[f"s_{i}"] = score_lf[:, i]
                out_parts.append(pd.DataFrame(cols))
            if out_parts:
                yield pd.concat(out_parts, ignore_index=True)

    wide = pages.select(*in_cols).mapInPandas(score_partition, schema=wide_schema)
    stack_args = []
    i = 0
    for lx in lex_names:
        for f in feats:
            stack_args.append(f"'{lx}', '{f}', `s_{i}`")
            i += 1
    stack_expr = f"stack({k}, {', '.join(stack_args)}) AS (lexicon, feature, score)"
    return wide.select("url", "warc_ts", "lang", "word_count", F.expr(stack_expr))
