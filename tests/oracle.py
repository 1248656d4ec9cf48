"""Pure-pandas single-machine oracle for the full pipeline — the analogue of
the reference suite's independent ``sanity_sentiment`` reimplementation
(/root/reference/tests/testthat/test_sentiment_computation.R:51-78).

Deliberately written with naive per-document Python loops and NO shared code
with the engine (other than kernel specs), so an agreement between Spark
output and this oracle is meaningful.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

WORD_RE = re.compile(r"[a-z']+")


def tokenize(text: str) -> list[str]:
    return WORD_RE.findall(text.lower())


def _positional_weight(how: str, x: int, n: int) -> float:
    if how == "UShaped":
        return (x - (n + 1) / 2) ** 2
    if how == "inverseUShaped":
        return 0.25 - (x - (n + 1) / 2) ** 2 / n**2
    if how == "exponential":
        return math.exp(5 * (x / n - 1))
    if how == "inverseExponential":
        return math.exp(5 * (1 - x / n))
    raise ValueError(how)


POSITIONAL = ("UShaped", "inverseUShaped", "exponential", "inverseExponential")


def score_doc(
    tokens: list[str],
    lexmap: dict[str, dict[str, float]],  # {lexicon: {word: y}}
    valence: dict[str, tuple[float, int]],
    how: str,
    mode: str,
    tfidf: tuple[float, dict[str, float]] | None = None,
) -> tuple[int, dict[str, float]]:
    n = len(tokens)
    lex_names = sorted(lexmap)
    scores = {lx: 0.0 for lx in lex_names}
    if n == 0:
        return 0, scores

    # per-token polarity vectors and shifters
    tok_scores: list[dict[str, float] | None] = [None] * n
    tok_shift = [1.0] * n
    in_lex = [any(t in lexmap[lx] for lx in lex_names) for t in tokens]

    if mode == "unigram":
        for j, t in enumerate(tokens):
            if in_lex[j]:
                tok_scores[j] = {lx: lexmap[lx].get(t, 0.0) for lx in lex_names}
        weighted_idx = [j for j in range(n)]  # normalizer over all tokens
    elif mode == "bigram":
        for j, t in enumerate(tokens):
            if in_lex[j]:
                tok_scores[j] = {lx: lexmap[lx].get(t, 0.0) for lx in lex_names}
                k = max(0, j - 1)
                if tokens[k] in valence and k != j:
                    tok_shift[j] = valence[tokens[k]][0]
        weighted_idx = [j for j in range(n) if tok_scores[j] is not None]
    elif mode == "cluster":
        lB = 0
        j = 0
        weight_word = {}
        while j < n:
            if in_lex[j]:
                tok_scores[j] = {lx: lexmap[lx].get(tokens[j], 0.0) for lx in lex_names}
                weight_word[j] = tokens[j]
                neg = amp = deamp = 0
                st = max(lB, j - 4)
                en = min(n, j + 3)
                for k in range(st, en):
                    if k == j:
                        continue
                    if in_lex[k]:
                        tok_scores[k] = {lx: lexmap[lx].get(tokens[k], 0.0) for lx in lex_names}
                        weight_word[k] = tokens[j]
                    elif tokens[k] in valence:
                        t = valence[tokens[k]][1]
                        if t == 1:
                            neg += 1
                        elif t == 2:
                            amp += 1
                        elif t == 3:
                            deamp += 1
                nn = neg % 2
                wA = (1 - nn) * amp
                wD = nn * amp + deamp
                impact = 1 + max(0.8 * (wA - wD), -1.0)
                if nn == 1:
                    impact = -impact
                tok_shift[j] = impact
                lB = en + 1
                j = en
            j += 1
        weighted_idx = [j for j in range(n) if tok_scores[j] is not None]
    else:
        raise ValueError(mode)

    # token weights
    weights = [0.0] * n
    if how in POSITIONAL:
        norm = sum(_positional_weight(how, j + 1, n) for j in weighted_idx)
        for j in range(n):
            if tok_scores[j] is not None:
                weights[j] = _positional_weight(how, j + 1, n) / norm if norm else 0.0
    elif how == "TFIDF":
        n_corpus, df_map = tfidf
        for j in range(n):
            if tok_scores[j] is not None:
                word = tokens[j]
                if mode == "cluster":
                    word = weight_word[j]
                weights[j] = math.log10(n_corpus / (1 + df_map.get(word, 0.0)))

    npol = {lx: 0 for lx in lex_names}
    for j in range(n):
        if tok_scores[j] is not None:
            for lx in lex_names:
                if tok_scores[j][lx] != 0:
                    npol[lx] += 1

    for j in range(n):
        if tok_scores[j] is None:
            continue
        for lx in lex_names:
            sc = tok_scores[j][lx]
            if sc == 0:
                continue
            if how == "counts":
                scores[lx] += tok_shift[j] * sc
            elif how == "proportional":
                scores[lx] += tok_shift[j] * sc / n
            elif how == "proportionalSquareRoot":
                scores[lx] += tok_shift[j] * sc / math.sqrt(n)
            elif how == "proportionalPol":
                if npol[lx] > 0:
                    scores[lx] += tok_shift[j] * sc / npol[lx]
            else:
                scores[lx] += tok_shift[j] * sc * weights[j]
    return n, scores


def oracle_sentiment(
    pages: pd.DataFrame,
    lexicons,  # Lexicons object (fixture data only)
    how: str,
    mode: str = "unigram",
) -> pd.DataFrame:
    """Long sentiment table from a pages pandas frame."""
    feats = [c for c in pages.columns if c.startswith("feat_")]
    # corpus-level tfidf stats per language
    tfidf_by_lang = {}
    if how == "TFIDF":
        for lang, grp in pages.groupby("lang"):
            df_map: dict[str, float] = {}
            for text in grp["text"]:
                for t in set(tokenize(text)):
                    df_map[t] = df_map.get(t, 0.0) + 1.0
            tfidf_by_lang[lang] = (float(len(grp)), df_map)
    rows = []
    for _, r in pages.iterrows():
        lang = r["lang"]
        lexmap = lexicons.lex[lang]
        valence = lexicons.valence.get(lang, {})
        # lexicon wins on conflict
        valence = {
            w: yt
            for w, yt in valence.items()
            if not any(w in words for words in lexmap.values())
        }
        wc, scores = score_doc(
            tokenize(r["text"]), lexmap, valence, how, mode, tfidf_by_lang.get(lang)
        )
        for lx, sc in scores.items():
            for f in feats:
                rows.append(
                    {
                        "url": r["url"],
                        "warc_ts": r["warc_ts"],
                        "lang": lang,
                        "word_count": wc,
                        "lexicon": lx,
                        "feature": f,
                        "score": sc * r[f],
                    }
                )
    return pd.DataFrame(rows)


def bucket_series(ts: pd.Series, by: str) -> pd.Series:
    t = pd.to_datetime(ts)
    if by == "hour":
        return t.dt.floor("h")
    if by == "day":
        return t.dt.normalize()
    if by == "week":
        return t.dt.normalize() - pd.to_timedelta(t.dt.dayofweek, unit="D")
    if by == "month":
        return t.dt.to_period("M").dt.to_timestamp()
    if by == "year":
        return t.dt.to_period("Y").dt.to_timestamp()
    raise ValueError(by)


def oracle_aggregate_docs(
    sent: pd.DataFrame,
    by: str,
    how: str,
    do_ignore_zeros: bool = True,
    alpha: float = 0.1,
) -> pd.DataFrame:
    s = sent.copy()
    s["bucket_ts"] = bucket_series(s["warc_ts"], by)
    if do_ignore_zeros:
        s.loc[s["score"].abs() < 1e-12, "score"] = np.nan

    # bucket-level total word count over distinct docs
    docs = s[["url", "bucket_ts", "word_count"]].drop_duplicates()
    twc = docs.groupby("bucket_ts")["word_count"].sum().astype(float)

    out = []
    for (b, lx, f), grp in s.groupby(["bucket_ts", "lexicon", "feature"], sort=True):
        g = grp[grp["score"].notna()]
        if len(g) == 0:
            out.append({"bucket_ts": b, "lexicon": lx, "feature": f, "value": 0.0})
            continue
        wc = g["word_count"].astype(float)
        if how == "equal_weight":
            num = np.ones(len(g))
        elif how == "proportional":
            num = wc.to_numpy()
        elif how == "inverseProportional":
            num = (1.0 / wc).to_numpy()
        elif how == "exponential":
            num = (10 * alpha * (wc / twc[b] - 1)).to_numpy()
        elif how == "inverseExponential":
            num = (10 * alpha * (1 - wc / twc[b])).to_numpy()
        else:
            raise ValueError(how)
        den = num.sum()
        val = float((num * g["score"].to_numpy()).sum() / den) if den != 0 else 0.0
        if not np.isfinite(val):
            val = 0.0
        out.append({"bucket_ts": b, "lexicon": lx, "feature": f, "value": val})
    return pd.DataFrame(out)


def oracle_fill(measures: pd.DataFrame, by: str, fill: str) -> pd.DataFrame:
    if fill == "none":
        return measures
    freq = {"hour": "h", "day": "D", "week": "7D", "month": "MS", "year": "YS"}[by]
    spine = pd.date_range(measures["bucket_ts"].min(), measures["bucket_ts"].max(), freq=freq)
    out = []
    for (lx, f), grp in measures.groupby(["lexicon", "feature"]):
        g = grp.set_index("bucket_ts").reindex(spine)
        g["lexicon"] = lx
        g["feature"] = f
        if fill == "zero":
            g["value"] = g["value"].fillna(0.0)
        else:
            g["value"] = g["value"].ffill()
        out.append(g.rename_axis("bucket_ts").reset_index())
    return pd.concat(out, ignore_index=True)


def oracle_aggregate_time(
    measures: pd.DataFrame, kernels: dict[str, np.ndarray], lag: int
) -> pd.DataFrame:
    out = []
    for (lx, f), grp in measures.groupby(["lexicon", "feature"]):
        g = grp.sort_values("bucket_ts").reset_index(drop=True)
        v = g["value"].fillna(0.0).to_numpy()
        for name, ker in kernels.items():
            for t in range(lag - 1, len(g)):
                window = v[t - lag + 1 : t + 1]
                out.append(
                    {
                        "bucket_ts": g["bucket_ts"].iloc[t],
                        "lexicon": lx,
                        "feature": f,
                        "timeweight": name,
                        "value": float((window * ker).sum()),
                    }
                )
    return pd.DataFrame(out)


def oracle_measures(pages, lexicons, spec, kernels, mode="unigram"):
    sent = oracle_sentiment(pages, lexicons, spec.how_within, mode)
    m = oracle_aggregate_docs(sent, spec.by, spec.how_docs, spec.do_ignore_zeros)
    m = oracle_fill(m, spec.by, spec.fill)
    return oracle_aggregate_time(m, kernels, spec.lag)
