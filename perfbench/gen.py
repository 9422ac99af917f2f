"""Seeded inputs for the benchmark: a Zipf pages table and request streams.

Everything here is pure numpy/pandas and deterministic in the seed, so the
same seed yields byte-identical pages and streams (see ``fingerprint``).

Text is built from lowercase a-z words of 3-10 letters that are not English
stop words, joined by single spaces, so the engine's StandardAnalyzer chain
passes every token through unchanged and a whitespace split reproduces the
analyzed token stream exactly (the oracle relies on this).
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# Lucene's 33 English stop words, spelled out here so the generator does not
# import the engine.  Generated words must avoid them.
STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)
LANGS = ("en", "de", "fr", "es", "it", "nl", "pt", "ja")
LANG_WEIGHTS = np.array([0.55, 0.12, 0.1, 0.08, 0.05, 0.04, 0.03, 0.03])
WARC_EPOCH = pd.Timestamp("2024-01-01T00:00:00")
HEAD_DF_SHARE = 0.10  # a "head" term occurs in more than 10% of documents
TAIL_DF_MAX = 5  # a "tail" term occurs in at most 5 documents
ZIPF_S = 1.05  # word-rank exponent of the vocabulary
N_HOSTS = 20000  # host list that urls draw from
HOST_S = 0.8  # host-rank exponent
LEN_MU, LEN_SIGMA = 4.2, 0.6  # lognormal words per page: median ~67
FQ_POOL = 6  # distinct fq filters a select stream draws from
# Request shapes cycle in a fixed order, so runs with different seeds differ
# only in which words they use: each operator 20 percent, with a fixed
# number of terms per operator (1/2/3 terms at 20/40/40 percent), term
# classes head/mid/tail 40/35/25 percent, fq counts 0/1/2 at 30/40/30.
# The operator cycle is short so that every few requests hold the whole
# mix.  These shares are assumptions, not measured traffic; README.md gives
# the reason for each.
OP_CYCLE = ("term", "and", "or", "not", "phrase")
TERMS_PER_OP = {"term": 1, "and": 2, "or": 3, "not": 2, "phrase": 3}
CLASS_CYCLE = ("head", "mid", "tail", "head", "mid", "head", "tail", "mid",
               "head", "mid", "tail", "head", "mid", "head", "tail", "mid",
               "head", "mid", "tail", "head")
FQ_COUNT_CYCLE = (1, 0, 2, 1, 0, 2, 1, 2, 0, 1)


@dataclass
class Corpus:
    """Generated pages plus the word statistics the streams draw from."""

    pages: pd.DataFrame  # url, warc_ts, html, text, lang, host, doc_id, marker
    vocab: list[str]
    doc_freq: dict[str, int] = field(default_factory=dict)


def _words(rng: np.random.Generator, n: int, taken: set[str], by_rank: bool = False) -> list[str]:
    """n new distinct words.  With ``by_rank`` the i-th word has
    3 + floor(log3(i + 1)) letters (at most 10), so frequent words are short
    and the corpus's byte size does not hinge on which lengths the seed
    gave the head words; otherwise lengths are uniform in 3..10."""
    out: list[str] = []
    while len(out) < n:
        m = n - len(out)
        # one draw of 10 letters per candidate; a word is a prefix of its row
        rows = (rng.integers(0, 26, size=(m, 10), dtype=np.uint8) + ord("a")).tobytes()
        lens = rng.integers(3, 11, size=m)
        for k in range(m):
            i = len(out)
            ln = min(10, 3 + int(math.log(i + 1, 3))) if by_rank else int(lens[k])
            w = rows[10 * k : 10 * k + ln].decode()
            if w not in taken and w not in STOP_WORDS:
                taken.add(w)
                out.append(w)
    return out


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def html_of(doc_id: int, text: str) -> bytes:
    return (
        f"<html><head><title>page {doc_id}</title></head>"
        f"<body><p>{text}</p></body></html>"
    ).encode("utf-8")


class Generator:
    """All inputs of one benchmark run, drawn from one seed."""

    def __init__(self, seed: int, n_docs: int, vocab_size: int = 20000):
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self._taken: set[str] = set()
        self.vocab = _words(self.rng, vocab_size, self._taken, by_rank=True)
        self.word_p = _zipf_probs(vocab_size, ZIPF_S)
        self.hosts = [f"{w}.example" for w in _words(self.rng, N_HOSTS, self._taken)]
        self.host_p = _zipf_probs(N_HOSTS, HOST_S)
        self.n_docs = n_docs
        self._class_i = 0
        self.corpus = self._pages(n_docs)

    # -- pages --------------------------------------------------------------

    def text(self, n_words: int | None = None) -> str:
        if n_words is None:
            n_words = self._length()
        ids = self.rng.choice(len(self.vocab), size=n_words, p=self.word_p)
        return " ".join(self.vocab[i] for i in ids)

    def _length(self) -> int:
        return int(np.clip(round(self.rng.lognormal(LEN_MU, LEN_SIGMA)), 5, 800))

    def _lengths(self, n: int) -> list[int]:
        """Lognormal lengths rescaled so that their total is the same for
        every seed: n * exp(mu + sigma^2 / 2), the lognormal mean."""
        raw = np.array([self._length() for _ in range(n)], dtype=float)
        total = n * math.exp(LEN_MU + LEN_SIGMA ** 2 / 2)
        return [max(5, int(x)) for x in np.round(raw * total / raw.sum())]

    def _pages(self, n: int) -> Corpus:
        pages = self.more_pages(n, 0)
        df: dict[str, int] = {}
        for t in pages["text"]:
            for w in set(t.split()):
                df[w] = df.get(w, 0) + 1
        return Corpus(pages=pages, vocab=self.vocab, doc_freq=df)

    def more_pages(self, n: int, start: int) -> pd.DataFrame:
        """n new pages with doc_ids start.. (and urls to match)."""
        # every page version ends in its own marker word (df 1), so a read
        # can tell one version of a url from another
        markers = _words(self.rng, n, self._taken)
        texts = [f"{self.text(k)} {m}" for k, m in zip(self._lengths(n), markers)]
        hosts = self.rng.choice(len(self.hosts), size=n, p=self.host_p)
        langs = self.rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)
        rows = []
        for i, t in enumerate(texts):
            d = start + i
            host = self.hosts[hosts[i]]
            rows.append((f"https://{host}/p/{d}", WARC_EPOCH + pd.Timedelta(seconds=d),
                         html_of(d, t), t, LANGS[langs[i]], host, d, markers[i]))
        return pd.DataFrame(
            rows,
            columns=["url", "warc_ts", "html", "text", "lang", "host", "doc_id", "marker"],
        )

    # -- term classes -------------------------------------------------------

    def term_classes(self) -> dict[str, list[str]]:
        """Indexed terms split by document frequency: head (df > 10% of
        docs), tail (df <= 5) and mid (the rest), each in vocabulary order."""
        df = self.corpus.doc_freq
        head_min = HEAD_DF_SHARE * self.n_docs
        present = [w for w in self.vocab if w in df]
        return {
            "head": [w for w in present if df[w] > head_min],
            "mid": [w for w in present if TAIL_DF_MAX < df[w] <= head_min],
            "tail": [w for w in present if df[w] <= TAIL_DF_MAX],
        }

    def _pick_terms(self, k: int, classes: dict[str, list[str]]) -> list[str]:
        """k distinct terms; the class of each (head 40%, mid 35%, tail 25%)
        follows a fixed cycle so every run sees the same mix."""
        out: list[str] = []
        while len(out) < k:
            c = CLASS_CYCLE[self._class_i % len(CLASS_CYCLE)]
            self._class_i += 1
            pool = classes[c]
            w = pool[int(self.rng.integers(len(pool)))]
            if w not in out:
                out.append(w)
        return out

    def _phrase(self, k: int) -> list[str]:
        """k consecutive distinct words of a random document (so it hits)."""
        texts = self.corpus.pages["text"]
        while True:
            toks = texts.iloc[int(self.rng.integers(len(texts)))].split()
            if len(toks) < k:
                continue
            at = int(self.rng.integers(len(toks) - k + 1))
            words = toks[at : at + k]
            if len(set(words)) == k:
                return words

    # -- streams ------------------------------------------------------------

    def query_stream(self, n: int) -> list[dict]:
        """search() requests: {"op": term|and|or|not|phrase, "terms",
        "not"}: 1-3 terms, operators and term classes as in the cycles above."""
        classes = self.term_classes()
        out = []
        for i in range(n):
            op = OP_CYCLE[i % len(OP_CYCLE)]
            k = TERMS_PER_OP[op]
            if op in ("term", "and", "or"):
                out.append({"op": op, "terms": self._pick_terms(k, classes), "not": []})
            elif op == "not":
                t = self._pick_terms(k, classes)
                out.append({"op": op, "terms": t[:1], "not": t[1:]})
            else:
                out.append({"op": op, "terms": self._phrase(k), "not": []})
        return out

    def select_stream(self, n: int) -> list[dict]:
        """/select requests: a q-string plus 0-2 fq drawn with repetition from
        a small pool of head/mid term filters (a quarter of them negative),
        faceting on lang and host."""
        classes = self.term_classes()
        pool_terms = self._pick_terms(FQ_POOL, {"head": classes["head"],
                                                "mid": classes["mid"],
                                                "tail": classes["head"]})
        pool = [t if i % 4 else f"-{t}" for i, t in enumerate(pool_terms)]
        out = []
        for i, q in enumerate(self.query_stream(n)):
            t = q["terms"]
            if q["op"] == "term":
                qs = t[0]
            elif q["op"] == "and":
                qs = " AND ".join(t)
            elif q["op"] == "or":
                qs = " ".join(t)
            elif q["op"] == "not":
                qs = f"{t[0]} -{q['not'][0]}"
            else:
                qs = '"' + " ".join(t) + '"'
            nfq = FQ_COUNT_CYCLE[i % len(FQ_COUNT_CYCLE)]
            fqs = [pool[int(j)] for j in self.rng.choice(len(pool), size=nfq, replace=False)]
            out.append({"query": q, "q": qs, "fq": fqs})
        return out

    def update_batches(self, n_batches: int, batch_size: int) -> list[pd.DataFrame]:
        """Pages batches re-crawling existing urls with fresh text and a
        fresh marker word.  A url is updated at most once per stream, so the
        batch's ``old_marker`` column names the version it replaces."""
        pages = self.corpus.pages
        picks = self.rng.choice(len(pages), size=n_batches * batch_size, replace=False)
        out = []
        for b in range(n_batches):
            rows = pages.iloc[picks[b * batch_size : (b + 1) * batch_size]]
            markers = _words(self.rng, batch_size, self._taken)
            texts = [f"{self.text()} {m}" for m in markers]
            upd = rows.copy()
            upd["old_marker"] = upd["marker"]
            upd["text"] = texts
            upd["html"] = [html_of(int(d), t) for d, t in zip(upd["doc_id"], texts)]
            upd["warc_ts"] = upd["warc_ts"] + pd.Timedelta(days=b + 1)
            upd["marker"] = markers
            out.append(upd.reset_index(drop=True))
        return out


def fingerprint(*frames_or_objs) -> str:
    """sha256 over the canonical bytes of generated inputs."""
    h = hashlib.sha256()
    for x in frames_or_objs:
        if isinstance(x, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(x, index=True).values.tobytes())
            h.update(repr(list(x.columns)).encode())
        else:
            h.update(repr(x).encode())
    return h.hexdigest()


def traffic_shares(g: Generator, queries: list[dict], selects: list[dict],
                   updates: list[pd.DataFrame]) -> dict:
    """Traffic properties of a generated stream, as shares of requests."""
    df = g.corpus.doc_freq
    head_min = HEAD_DF_SHARE * g.n_docs

    def touches(q, pred):
        return any(pred(df.get(t, 0)) for t in q["terms"] + q["not"])

    n = max(len(queries), 1)
    ops = [q["op"] for q in queries]
    out = {
        "queries": len(queries),
        "head_term_share": sum(touches(q, lambda d: d > head_min) for q in queries) / n,
        "tail_term_share": sum(touches(q, lambda d: d <= TAIL_DF_MAX) for q in queries) / n,
        "op_mix": {o: ops.count(o) / n for o in ("term", "and", "or", "not", "phrase")},
        "terms_per_query": {
            k: sum(len(q["terms"]) + len(q["not"]) == k for q in queries) / n
            for k in (1, 2, 3)
        },
        "phrase_share": ops.count("phrase") / n,
        "host_cardinality": int(g.corpus.pages["host"].nunique()),
    }
    if selects:
        seen: set[str] = set()
        rep = tot = 0
        for s in selects:
            for f in s["fq"]:
                tot += 1
                rep += f in seen
                seen.add(f)
        out["fq_repeat_share"] = rep / tot if tot else 0.0
    if updates:
        out["update_batch_share_of_store"] = len(updates[0]) / g.n_docs
    return out
