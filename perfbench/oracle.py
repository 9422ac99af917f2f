"""Independent reference answers for the benchmark's correctness gate.

Nothing here imports the engine.  Documents are whitespace-tokenized (the
generator only emits analyzer-stable words), Lucene's SmallFloat norm byte
is re-derived from IEEE-754 bits, and BM25 is computed two ways:

- ``contract_topk``: the engine's documented contract -- float64 per-term
  Lucene 4.10 BM25 over the decoded norm length, per-term scores added in
  query-term order, ordered on the score rounded half-up to 4 decimals with
  ascending docid breaking ties.  Every answer must match this.
- ``lucene_topk``: Lucene 4.10's float32 pipeline (float idf, 256-entry
  float norm cache, float per-term scores summed in double and cast to
  float), ordered on the unrounded score.  Agreement with it is reported as
  ``rank_exact_ratio``, never enforced.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

K1 = 1.2
B = 0.75
_Q4 = Decimal("0.0001")


def float_to_byte315(f: float) -> int:
    """SmallFloat.floatToByte315 on the float32 bits of ``f``."""
    bits = int(np.array([f], dtype=np.float32).view(np.int32)[0])
    small = bits >> 21
    if small <= (63 - 15) << 3:
        return 0 if bits <= 0 else 1
    if small >= ((63 - 15) << 3) + 0x100:
        return 255
    return small - ((63 - 15) << 3)


def byte315_to_float(b: int) -> np.float32:
    if b == 0:
        return np.float32(0.0)
    bits = ((b & 0xFF) << 21) + ((63 - 15) << 24)
    return np.array([bits], dtype=np.int32).view(np.float32)[0]


def norm_byte(length: int) -> int:
    """BM25Similarity.encodeNormValue(1f, length): 1f / (float) sqrt(length)."""
    if length == 0:
        return 255
    return float_to_byte315(np.float32(1.0) / np.float32(math.sqrt(length)))


# decoded (lossy) document length per norm byte: 1f / (f * f) in float32
DECODED_LEN = np.array(
    [np.float32(np.inf) if b == 0 else
     np.float32(1.0) / (byte315_to_float(b) * byte315_to_float(b)) for b in range(256)],
    dtype=np.float32,
)


def round4(x: float) -> float:
    """Half-up rounding of the shortest decimal repr (Spark's round())."""
    return float(Decimal(repr(float(x))).quantize(_Q4, rounding=ROUND_HALF_UP))


class Oracle:
    """Reference index over (docid, text, live) documents.

    Collection statistics (N, df, avgdl) count every document given, live or
    not, as the store does until deletes are merged away; only live documents
    can match."""

    def __init__(self, docids, texts, live=None):
        self.docids = np.asarray(docids, dtype=np.int64)
        self.tokens = [t.split() for t in texts]
        self.live = np.ones(len(self.docids), bool) if live is None else np.asarray(live, bool)
        self.n = len(self.docids)
        dl = np.array([len(t) for t in self.tokens], dtype=np.int64)
        self.dl_approx = DECODED_LEN[[norm_byte(int(x)) for x in dl]]
        self.avgdl = np.float32(dl.sum() / self.n) if self.n else np.float32(0)
        post: dict[str, dict[int, int]] = {}
        for i, toks in enumerate(self.tokens):
            for t in toks:
                d = post.setdefault(t, {})
                d[i] = d.get(i, 0) + 1
        self.postings = {
            t: (np.fromiter(d.keys(), np.int64), np.fromiter(d.values(), np.float64))
            for t, d in post.items()
        }

    def df(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else len(p[0])

    # -- matching -----------------------------------------------------------

    def _phrase_tf(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        first = self.postings.get(terms[0])
        if first is None:
            return np.empty(0, np.int64), np.empty(0)
        rows, tfs = [], []
        k = len(terms)
        for i in first[0]:
            toks = self.tokens[i]
            c = sum(toks[p : p + k] == terms for p in range(len(toks) - k + 1))
            if c:
                rows.append(i)
                tfs.append(c)
        return np.array(rows, np.int64), np.array(tfs, np.float64)

    def _per_term(self, terms: list[str]) -> list[tuple[np.ndarray, np.ndarray]]:
        return [self.postings.get(t, (np.empty(0, np.int64), np.empty(0))) for t in terms]

    def fq_mask(self, fqs: list[str]) -> np.ndarray:
        """Rows passing every filter: ``term`` keeps, ``-term`` drops."""
        mask = np.ones(self.n, bool)
        for f in fqs:
            rows = self.postings.get(f.lstrip("-"), (np.empty(0, np.int64),))[0]
            hit = np.zeros(self.n, bool)
            hit[rows] = True
            mask &= ~hit if f.startswith("-") else hit
        return mask

    def matches(self, q: dict, mask: np.ndarray | None = None) -> np.ndarray:
        """Row indexes (not docids) of live documents matching the query and
        passing ``mask``."""
        if q["op"] == "phrase":
            rows = self._phrase_tf(q["terms"])[0]
        else:
            per = self._per_term(q["terms"])
            sets = [set(r.tolist()) for r, _ in per]
            rows_set = set.intersection(*sets) if q["op"] in ("and", "term", "not") else set.union(*sets)
            for t in q["not"]:
                rows_set -= set(self.postings.get(t, (np.empty(0, np.int64),))[0].tolist())
            rows = np.array(sorted(rows_set), np.int64)
        keep = self.live if mask is None else self.live & mask
        return rows[keep[rows]] if len(rows) else rows

    # -- scoring ------------------------------------------------------------

    def _contract_scores(self, q: dict) -> dict[int, float]:
        n, avgdl = self.n, float(self.avgdl)
        if q["op"] == "phrase":
            rows, tf = self._phrase_tf(q["terms"])
            idf = 0.0
            for t in q["terms"]:
                df = self.df(t)
                idf += math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            dl = self.dl_approx[rows].astype(np.float64)
            s = idf * 2.2 * tf / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
            return dict(zip(rows.tolist(), s.tolist()))
        total: dict[int, float] = {}
        per = self._per_term(q["terms"])
        parts = []
        for t, (rows, tf) in zip(q["terms"], per):
            df = len(rows)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            dl = self.dl_approx[rows].astype(np.float64)
            parts.append(dict(zip(rows.tolist(),
                                  (idf * 2.2 * tf / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))).tolist())))
        for r in self.matches(q).tolist():
            acc = 0.0
            for part in parts:  # fixed-order addition, missing terms add 0.0
                acc = acc + part.get(r, 0.0)
            total[r] = acc
        return total

    def contract_topk(self, q: dict, k: int = 10, mask=None) -> list[tuple[int, float]]:
        scores = self._contract_scores(q)
        live = set(self.matches(q, mask).tolist())
        ranked = sorted(
            ((round4(s), int(self.docids[r])) for r, s in scores.items() if r in live),
            key=lambda x: (-x[0], x[1]),
        )
        return [(d, s) for s, d in ranked[:k]]

    def lucene_topk(self, q: dict, k: int = 10, mask=None) -> list[int]:
        """Docids of the float32 Lucene 4.10 top-k, unrounded ordering."""
        n = self.n
        f32 = np.float32
        cache = (f32(K1) * (f32(1.0 - B) + f32(B) * DECODED_LEN / self.avgdl)).astype(np.float32)
        wfac = f32(K1) + f32(1.0)

        def idf32(df: int) -> np.float32:
            return f32(math.log(1 + (n - df + 0.5) / (df + 0.5)))

        def term_score(weight, tf, rows):
            norm = cache[[norm_byte(len(self.tokens[r])) for r in rows]]
            tf32 = tf.astype(np.float32)
            return (f32(weight * wfac) * tf32) / (tf32 + norm)

        if q["op"] == "phrase":
            rows, tf = self._phrase_tf(q["terms"])
            idf = f32(0.0)
            for t in q["terms"]:
                idf = f32(idf + idf32(self.df(t)))
            score = dict(zip(rows.tolist(), term_score(idf, tf, rows).tolist()))
        else:
            acc: dict[int, float] = {}
            for t, (rows, tf) in zip(q["terms"], self._per_term(q["terms"])):
                if not len(rows):
                    continue
                s = term_score(idf32(len(rows)), tf, rows)
                for r, v in zip(rows.tolist(), s.tolist()):
                    acc[r] = acc.get(r, 0.0) + float(v)  # double accumulation
            score = {r: float(f32(v)) for r, v in acc.items()}
        live = self.matches(q, mask).tolist()
        ranked = sorted(live, key=lambda r: (-score[r], int(self.docids[r])))
        return [int(self.docids[r]) for r in ranked[:k]]


def facet_counts(values: pd.Series, limit: int = 20) -> list[tuple[str, int]]:
    """facet.field counts: count desc, then value asc, first ``limit``."""
    vc = values.dropna().value_counts()
    frame = pd.DataFrame({"v": vc.index.astype(str), "c": vc.values})
    frame = frame.sort_values(["c", "v"], ascending=[False, True]).head(limit)
    return [(str(v), int(c)) for v, c in zip(frame["v"], frame["c"])]


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same docids in the same order, scores equal to 4 decimals."""
    return len(got) == len(want) and all(
        gd == wd and abs(gs - ws) <= 1.01e-4 for (gd, gs), (wd, ws) in zip(got, want)
    )
