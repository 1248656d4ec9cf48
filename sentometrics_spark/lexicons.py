"""Lexicon / valence-shifter model (analogue of ``sento_lexicons``,
/root/reference/R/sentolexicons.R:64-116).

A :class:`Lexicons` object holds, per language:
  - ``lex``:     {lexicon_name: {word: polarity}}   (lowercased unigrams, unique)
  - ``valence``: {word: (y, t)} — bigram shifter value ``y`` and cluster type
    ``t`` (1 negator, 2 amplifier, 3 deamplifier, 4 adversative conjunction,
    /root/reference/R/sentolexicons.R:100-104).

Lexicons are tiny relative to the corpus, so at execution time they travel as
Spark broadcast variables into Arrow-batched UDF kernels (the Spark analogue
of the reference's C++ ``unordered_map`` lexiconMap, /root/reference/src/utils.h:25-63)
or, for the DuckDB oracles, inline VALUES lists.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


# languages (and script ranges) that ICU word-segments by DICTIONARY, which
# this engine's UAX-29 rule tokenizer deliberately does not reproduce
# (scoring/tokenize.py module docstring): an unspaced ideograph/Thai run
# stays ONE token here, so a lexicon keyed to these languages would silently
# never match. Fail fast at lexicon construction instead; the supported path
# for such corpora is caller-supplied tokenization via the tokens_col
# passthrough (T3, compute_sentiment_udf(tokens_col=...)).
_DICT_SEGMENTED_LANGS = {"zh", "ja", "th", "lo", "km", "my"}
_DICT_SEGMENTED_RANGES = (
    (0x4E00, 0x9FFF, "Han"),
    (0x3400, 0x4DBF, "Han ext-A"),
    (0x3040, 0x309F, "Hiragana"),
    (0x30A0, 0x30FF, "Katakana"),
    (0x0E00, 0x0E7F, "Thai"),
    (0x0E80, 0x0EFF, "Lao"),
    (0x1780, 0x17FF, "Khmer"),
    (0x1000, 0x109F, "Myanmar"),
)


def _check_not_dictionary_segmented(lang: str, words) -> None:
    # entries in a dictionary-segmented SCRIPT can never match a UAX-29
    # token (an unspaced run stays one oversized token): hard error.
    for w in words:
        for ch in w:
            cp = ord(ch)
            for lo, hi, script in _DICT_SEGMENTED_RANGES:
                if lo <= cp <= hi:
                    raise ValueError(
                        f"lexicon entry '{w}' (lang '{lang}') contains {script} "
                        "codepoints: these scripts need ICU dictionary word "
                        "segmentation, which this engine does not implement — "
                        "the entry would silently never match. Pre-tokenize "
                        "the corpus and pass tokens_col= (T3 passthrough)."
                    )
    # a zh/ja/th-keyed lexicon whose entries are all spaced-script (e.g.
    # latin loanwords) CAN match, but word counts over native-script runs
    # diverge from ICU, skewing proportional denominators: warn loudly.
    if lang.split("-")[0].lower() in _DICT_SEGMENTED_LANGS:
        import warnings

        warnings.warn(
            f"language '{lang}' is ICU dictionary-segmented; this engine's "
            "UAX-29 tokenizer keeps unspaced runs as single tokens, so word "
            "counts (and proportional-type denominators) will diverge from "
            "the reference on native-script text. For exact parity, "
            "pre-tokenize and pass tokens_col= (T3 passthrough).",
            stacklevel=3,
        )


@dataclass(frozen=True)
class Lexicons:
    # {lang: {lexicon_name: {word: y}}}
    lex: dict[str, dict[str, dict[str, float]]]
    # {lang: {word: (y, t)}}
    valence: dict[str, dict[str, tuple[float, int]]] = field(default_factory=dict)
    # which valence column drives auto-dispatch, mirroring the reference's
    # either/or valence table shape (x,y) vs (x,t)
    # (/root/reference/R/sentiment_engines.R:36-51): "y" -> bigram shifting,
    # "t" -> cluster scoring. Explicit mode= on compute_sentiment_udf wins.
    valence_use: str = "y"
    # languages whose word segmentation the CALLER supplies (a jieba-style
    # segmenter via scoring.segment.segment_corpus, or any pre-tokenized
    # tokens_col): lifts the dictionary-segmentation fail-fast for exactly
    # those languages. The UDF engine then REQUIRES tokens_col= whenever
    # the corpus/lexicon touches one of them, so the default stays
    # fail-fast and nothing can silently mis-score.
    pretokenized_langs: frozenset = frozenset()

    def __post_init__(self) -> None:
        pre = {str(l).split("-")[0].lower() for l in self.pretokenized_langs}
        object.__setattr__(self, "pretokenized_langs", frozenset(pre))
        for lang, lexs in self.lex.items():
            if lang.split("-")[0].lower() not in pre:
                _check_not_dictionary_segmented(
                    lang, (w for ws in lexs.values() for w in ws)
                )
            for name, words in lexs.items():
                if "--" in name or "-" in name:
                    raise ValueError(f"'-' not allowed in lexicon name: {name}")
                for w in words:
                    if w != w.lower():
                        raise ValueError(f"lexicon words must be lowercase: {w}")
        for lang, vmap in self.valence.items():
            if lang.split("-")[0].lower() not in pre:
                _check_not_dictionary_segmented(lang, vmap)

    @property
    def languages(self) -> list[str]:
        return sorted(self.lex)

    def lexicon_names(self, lang: str | None = None) -> list[str]:
        if lang is not None:
            return sorted(self.lex[lang])
        names: set[str] = set()
        for lexs in self.lex.values():
            names.update(lexs)
        return sorted(names)

    def split_pos_neg(self) -> "Lexicons":
        """do.split: each lexicon into _POS / _NEG sub-lexicons
        (/root/reference/R/sentolexicons.R:86-92)."""
        out: dict[str, dict[str, dict[str, float]]] = {}
        for lang, lexs in self.lex.items():
            out[lang] = {}
            for name, words in lexs.items():
                pos = {w: y for w, y in words.items() if y > 0}
                neg = {w: y for w, y in words.items() if y < 0}
                out[lang][f"{name}_POS"] = pos
                out[lang][f"{name}_NEG"] = neg
        return Lexicons(
            lex=out,
            valence=self.valence,
            valence_use=self.valence_use,
            pretokenized_langs=self.pretokenized_langs,
        )

    # ---- packing for the scoring kernels -------------------------------

    def pack(self, lang: str) -> "LexiconPack":
        lexs = self.lex[lang]
        names = sorted(lexs)
        vocab = sorted({w for words in lexs.values() for w in words})
        word2id = {w: i for i, w in enumerate(vocab)}
        pol = np.zeros((len(vocab), len(names)), dtype=np.float64)
        for j, name in enumerate(names):
            for w, y in lexs[name].items():
                pol[word2id[w], j] = y
        # the reference KEEPS lexicon/valence overlaps in the valence table
        # (sento_lexicons only removes multiword + duplicate entries,
        # /root/reference/R/sentolexicons.R:96-111); precedence between the
        # two roles is decided per engine: the bigram scorers look the
        # previous token up in valenceMap unconditionally
        # (/root/reference/src/SentimentScorerBigrams.h:68-71), while the
        # cluster scorers check lexicon membership first for window
        # neighbors (/root/reference/src/SentimentScorerClusters.h:77-88)
        val = self.valence.get(lang, {})
        return LexiconPack(
            lang=lang,
            lexicon_names=names,
            word2id=word2id,
            polarity=pol,
            valence_y={w: yt[0] for w, yt in val.items()},
            valence_t={w: yt[1] for w, yt in val.items()},
        )

    def rows(self) -> list[tuple[str, str, str, float]]:
        """(lang, lexicon, word, y) rows for a lexicon DataFrame."""
        out = []
        for lang in sorted(self.lex):
            for name in sorted(self.lex[lang]):
                for w, y in sorted(self.lex[lang][name].items()):
                    out.append((lang, name, w, float(y)))
        return out

    def valence_rows(self) -> list[tuple[str, str, float, int]]:
        out = []
        for lang in sorted(self.valence):
            for w, (y, t) in sorted(self.valence[lang].items()):
                out.append((lang, w, float(y), int(t)))
        return out


@dataclass(frozen=True)
class LexiconPack:
    """Per-language arrays for numpy scoring kernels."""

    lang: str
    lexicon_names: list[str]
    word2id: dict[str, int]
    polarity: np.ndarray  # [V, nL]
    valence_y: dict[str, float]
    valence_t: dict[str, int]


# --------------------------------------------------------------------------
# Deterministic fixtures over the closed testdata vocabulary
# (analogue of list_lexicons / list_valence_shifters fixtures used by the
# reference test suite; words chosen from /root/testdata documents vocab).
# --------------------------------------------------------------------------

# Base polarities; per-language value = base * LANG_FACTOR[lang].
BASE_LEXICONS: dict[str, dict[str, float]] = {
    "LEXA": {
        "fast": 1.0,
        "slow": -1.0,
        "big": 0.5,
        "small": -0.5,
        "merge": 0.75,
        "filter": -0.25,
        "spark": 1.5,
        "hash": -0.75,
    },
    "LEXB": {
        "fast": 2.0,
        "slow": -2.0,
        "dup": -1.0,
        "join": 0.5,
        "scan": -0.5,
        "stream": 0.25,
    },
}

LANG_FACTOR: dict[str, float] = {"en": 1.0, "fr": 0.9, "de": 1.1, "es": 0.8, "zh": 1.2}

# Valence shifters: disjoint from lexicon words.
# (word, y, t): t = 1 negator, 2 amplifier, 3 deamplifier, 4 adversative.
BASE_VALENCE: list[tuple[str, float, int]] = [
    ("a", -1.0, 1),
    ("the", 1.5, 2),
    ("data", 0.5, 3),
    ("customer", 1.0, 4),
]


def fixture_lexicons(langs: tuple[str, ...] = ("en", "fr", "de", "es", "zh")) -> Lexicons:
    lex = {
        lang: {
            name: {w: y * LANG_FACTOR[lang] for w, y in words.items()}
            for name, words in BASE_LEXICONS.items()
        }
        for lang in langs
    }
    valence = {lang: {w: (y, t) for w, y, t in BASE_VALENCE} for lang in langs}
    return Lexicons(lex=lex, valence=valence)


def lexicon_values_sql() -> str:
    """Inline SQL relation (lang, lexicon, word, y) of the fixture lexicons,
    for DuckDB oracle queries (the driver only pre-registers the parquet
    tables, so the lexicon ships inline)."""
    rows = fixture_lexicons().rows()
    vals = ",\n    ".join(f"('{la}','{lx}','{w}',{y!r})" for la, lx, w, y in rows)
    return f"(SELECT * FROM (VALUES\n    {vals}\n) AS lexv(lang, lexicon, word, y))"


def valence_values_sql() -> str:
    rows = fixture_lexicons().valence_rows()
    vals = ",\n    ".join(f"('{la}','{w}',{y!r},{t})" for la, w, y, t in rows)
    return f"(SELECT * FROM (VALUES\n    {vals}\n) AS valv(lang, word, vy, vt))"
