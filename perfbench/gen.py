"""Seeded input generator for the perfbench workloads.

Every input is ``documents``-shaped parquet (doc_id, text, lang, source,
n_chars): the table that ``sentometrics_spark.corpus.build_pages`` and the
DuckDB oracles in ``sentometrics_spark.entry_queries`` read, so the program
under test receives only these files and the oracles apply unchanged.

Texts are lowercase words joined by single spaces, drawn from a fixed
vocabulary (the fixture lexicon words plus Zipf-weighted filler words), so
the engine's tokenizer and the oracles' ``string_split(text, ' ')`` agree.
Scoring cost follows document length and the share of lexicon hits; both
are taken from the test corpus (sf0.001, ``tests/conftest.py``) whose
per-document counts ``tests/golden/sentiment_counts_sf0001.parquet`` holds:

- length: ``word_count`` there is uniform over 10-99 words (500 documents:
  min 10, quartiles 35 / 56 / 79.25, max 99, mean 55.9);
- lexicon hits: 36.4% of the corpus's tokens are fixture lexicon words
  (36.9% at sf0.1), each about equally often.

The filler vocabulary, the duplication and the stream's batch size and
late share are this benchmark's own choices.

Timestamps are not a column: ``build_pages`` derives ``warc_ts`` from
``doc_id`` alone (day ``doc_id % 90``, minute ``doc_id * 37 % 1440``), and
because 90 divides 1440, ``doc_id % 1440`` fixes a document's timestamp.
The stream schedule picks doc ids by that residue to put each micro-batch
in the next hours and its late share in earlier days.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sentometrics_spark.corpus import TS_DAYS_MOD, TS_MIN_MOD, TS_MIN_MULT
from sentometrics_spark.lexicons import BASE_LEXICONS

# doc_id % PERIOD fixes warc_ts (see module docstring)
PERIOD = TS_MIN_MOD
if PERIOD % TS_DAYS_MOD:
    raise RuntimeError("build_pages' timestamp formula no longer has period 1440")

LANGS = ("en", "fr", "de", "es")
N_SOURCES = 12
N_FILLER = 3000
LEXICON_SHARE = 0.364  # share of tokens that are lexicon words (see above)
MIN_WORDS, MAX_WORDS = 10, 99  # document length, uniform (see above)

# Input sizes. BENCHMARK.json's workload reasons quote them; change both
# together.
SNAPSHOT_DOCS = 1_000
SNAPSHOT_DAYS = 30
WARMUP_DOCS = 500  # a smaller snapshot over the same days, to warm traced runs
STREAM = {
    "history_days": 10,   # days already in the tier store before the stream
    "history_docs": 500,
    "batch_steps": 4,     # timestamps (of 16 per day) each batch advances
    "batch_docs": 300,
    "late_share": 0.05,   # share of a batch's docs that land in earlier days
    "late_days": 2,       # how far back late documents land (< hour retention)
    "n_batches": 16,
}
DUPLICATION = {
    "dup_share": 0.10,       # verbatim boilerplate documents, in groups
    "dup_group": 4,
    "near_dup_share": 0.25,  # of the boilerplate copies: one word replaced
    "footer_share": 0.10,    # unique documents ending in a shared footer
    "n_footers": 50,
    "footer_words": 20,
}


def _vocabulary() -> tuple[np.ndarray, np.ndarray]:
    """Fixed word list and sampling probabilities (independent of the seed,
    so every seed draws from the same language)."""
    lexicon = sorted({w for words in BASE_LEXICONS.values() for w in words})
    rng = np.random.default_rng(0)
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    filler: list[str] = []
    seen = set(lexicon)
    while len(filler) < N_FILLER:
        w = "".join(
            rng.choice(cons) + rng.choice(vows) for _ in range(int(rng.integers(2, 5)))
        )
        if w not in seen:
            seen.add(w)
            filler.append(w)
    zipf = 1.0 / (np.arange(N_FILLER) + 10.0) ** 1.1
    p = np.concatenate([
        np.full(len(lexicon), LEXICON_SHARE / len(lexicon)),
        (1.0 - LEXICON_SHARE) * zipf / zipf.sum(),
    ])
    return np.array(lexicon + filler, dtype=object), p


class Generator:
    """All inputs of one seed. Each method writes one input set under
    ``root`` and returns where it put it."""

    def __init__(self, seed: int, root: str, n_files: int):
        self.rng = np.random.default_rng(seed)
        self.root = root
        self.n_files = n_files
        self.vocab, self.p = _vocabulary()
        self.used = np.zeros(PERIOD, dtype=np.int64)  # ids handed out per residue

    def _ids(self, residues: np.ndarray) -> np.ndarray:
        """Fresh doc ids with the given ``doc_id % PERIOD`` residues."""
        out = np.empty(len(residues), dtype=np.int64)
        for i, r in enumerate(residues):
            out[i] = r + PERIOD * self.used[r]
            self.used[r] += 1
        return out

    def _days(self, n: int, days: int) -> np.ndarray:
        """Ids of ``n`` documents spread over the first ``days`` days."""
        residues = np.arange(PERIOD)
        return np.sort(self._ids(self.rng.choice(residues[residues % TS_DAYS_MOD < days], n)))

    def _texts(self, n: int, lo: int = MIN_WORDS, hi: int = MAX_WORDS) -> list[str]:
        lens = self.rng.integers(lo, hi + 1, n)
        words = self.vocab[self.rng.choice(len(self.vocab), size=int(lens.sum()), p=self.p)]
        return [" ".join(chunk) for chunk in np.split(words, np.cumsum(lens)[:-1])]

    def _write(self, name: str, doc_ids, texts: list[str], n_files: int = 1) -> str:
        """Write ``<root>/<name>/documents.parquet`` as a directory of
        ``n_files`` files, so the scan splits across cores."""
        n = len(texts)
        table = pa.table({
            "doc_id": pa.array(np.asarray(doc_ids, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[self.rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i}" for i in self.rng.integers(0, N_SOURCES, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        d = os.path.join(self.root, name)
        out = os.path.join(d, "documents.parquet")
        os.makedirs(out)
        step = -(-n // n_files)
        for i in range(0, n, step):
            pq.write_table(table.slice(i, step), os.path.join(out, f"part-{i // step:05d}.parquet"))
        return d

    def stream(self) -> tuple[str, list[str]]:
        """A tier-store history plus micro-batches in time order. Each batch
        holds the next ``batch_steps`` timestamps; a binomial share of its
        documents lands up to ``late_days`` days earlier, so the number of
        dirty partitions varies. Returns (history dir, batch dirs)."""
        cfg = STREAM
        residues = np.arange(PERIOD)
        day = residues % TS_DAYS_MOD
        minute = day * 1440 + (residues * TS_MIN_MULT) % TS_MIN_MOD
        order = residues[np.argsort(minute, kind="stable")]

        hist_res = order[day[order] < cfg["history_days"]]
        hist = self._ids(self.rng.choice(hist_res, cfg["history_docs"]))
        history = self._write("stream/history", hist, self._texts(len(hist)), self.n_files)

        live = order[day[order] >= cfg["history_days"]]
        batches = []
        for b in range(cfg["n_batches"]):
            steps = live[b * cfg["batch_steps"]:(b + 1) * cfg["batch_steps"]]
            if len(steps) < cfg["batch_steps"]:
                break
            n_late = int(self.rng.binomial(cfg["batch_docs"], cfg["late_share"]))
            d0 = day[steps[0]]
            late_res = residues[(day >= d0 - cfg["late_days"]) & (day < d0)]
            res = np.concatenate([
                self.rng.choice(steps, cfg["batch_docs"] - n_late),
                self.rng.choice(late_res, n_late),
            ])
            ids = self._ids(res)
            batches.append(self._write(f"stream/batch_{b:04d}", ids, self._texts(len(ids))))
        return history, batches

    def snapshot(self, name: str = "snapshot", n: int = SNAPSHOT_DOCS) -> str:
        """A corpus snapshot of ``n`` documents over the first SNAPSHOT_DAYS
        days with realistic duplication: ~10% of documents are verbatim
        copies of boilerplate documents (groups of 4, a quarter of the
        copies with one word replaced), another 10% are unique texts ending
        in one of a few shared footer passages, the rest are unique."""
        cfg = DUPLICATION
        g = cfg["dup_group"]
        n_groups = int(n * cfg["dup_share"]) // g
        n_footer = int(n * cfg["footer_share"])

        texts = self._texts(n - n_groups * g - n_footer)
        for t in self._texts(n_groups):
            for _ in range(g):
                words = t.split(" ")
                if self.rng.random() < cfg["near_dup_share"]:
                    words[int(self.rng.integers(len(words)))] = str(
                        self.vocab[int(self.rng.integers(len(self.vocab)))]
                    )
                texts.append(" ".join(words))
        footers = self._texts(cfg["n_footers"], cfg["footer_words"], cfg["footer_words"])
        for t in self._texts(n_footer):
            texts.append(t + " " + footers[int(self.rng.integers(len(footers)))])
        # shuffled, so copies scatter across ids and timestamps
        texts = [texts[i] for i in self.rng.permutation(n)]
        return self._write(name, self._days(n, SNAPSHOT_DAYS), texts, self.n_files)
