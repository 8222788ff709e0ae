"""Independent numpy BM25 oracle with a phrase position check.

It shares no code with the engine: it works on the generator's token
ids, keeps its own inverted index, and follows the engine's documented
contract -- BM25 with k1=1.2, b=0.75, idf = ln(1 + (N - df + 0.5) /
(df + 0.5)), scores rounded HALF_UP to 6 digits, order (score DESC,
doc_id ASC). Collection statistics follow the engine's segment model:
N, avgdl and df count every version written since the last compaction
(tombstoned ones too, as Lucene does between merges); results hold only
live docs, each scored with its live version.
"""

from __future__ import annotations

import copy
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from corpus import Docs

K1, B = 1.2, 0.75
DIGITS = 6
_Q = Decimal(1).scaleb(-DIGITS)


def half_up(x: float) -> float:
    return float(Decimal(repr(float(x))).quantize(_Q, rounding=ROUND_HALF_UP))


def _near_half(raw: float) -> bool:
    f = raw * 10**DIGITS
    return abs(f - np.floor(f) - 0.5) < 1e-6


def same_ranking(expected: list, got: list) -> bool:
    """``expected``: [(doc_id, raw score)] in oracle order; ``got``:
    [(doc_id, score)] from the engine. Doc order must agree exactly;
    a score may differ from the oracle's HALF_UP value only by the one
    rounding step that a last-bit summation-order difference can flip,
    and only when the raw score sits on a rounding boundary."""
    if [int(d) for d, _ in expected] != [int(d) for d, _ in got]:
        return False
    for (_, raw), (_, s) in zip(expected, got):
        r = half_up(raw)
        if s != r and not (abs(s - r) <= 1.5 * 10**-DIGITS and _near_half(raw)):
            return False
    return True


def _top(doc_ids: np.ndarray, raw: np.ndarray, k: int | None) -> list:
    if doc_ids.size == 0:
        return []
    if k is not None and doc_ids.size > k:
        kth = np.partition(raw, -k)[-k]
        keep = raw >= kth - 10.0**-DIGITS
        doc_ids, raw = doc_ids[keep], raw[keep]
    rounded = np.array([half_up(x) for x in raw])
    order = np.lexsort((doc_ids, -rounded))
    if k is not None:
        order = order[:k]
    return [(int(doc_ids[i]), float(raw[i])) for i in order]


class Oracle:
    """Index state: a base generation (CSR docs + inverted lists) plus
    the versions change batches wrote since, with a live map."""

    def __init__(self, docs: Docs):
        self.base = docs
        lens = np.diff(docs.offsets)
        self.base_lens = lens
        self.base_live = np.ones(len(docs), dtype=bool)
        self.base_index = {int(d): i for i, d in enumerate(docs.doc_ids)}
        self.doc_of_tok = np.repeat(np.arange(len(docs), dtype=np.int32), lens)
        self.tok_order = np.argsort(docs.tokens, kind="stable").astype(np.int64)
        self.term_start = np.concatenate(([0], np.cumsum(np.bincount(docs.tokens))))
        self.n = len(docs)
        self.sum_dl = int(lens.sum())
        self.extra: list[tuple[int, np.ndarray]] = []  # (doc_id, tokens)
        self.extra_tf: list[dict[int, int]] = []
        self.extra_inv: dict[int, list[int]] = {}
        self.live_extra: dict[int, int] = {}  # doc_id -> extra index
        self._memo: dict[int, tuple] = {}
        self.exact = False

    # ---- writes ---------------------------------------------------------
    def apply(self, events: list, writes: list, docs: Docs) -> None:
        """One change batch, collapsed to the last event per doc_id."""
        last: dict[int, int] = {}
        n_ev: dict[int, int] = {}
        for i, (_a, d) in enumerate(events):
            last[d] = i
            n_ev[d] = n_ev.get(d, 0) + 1
        version_of = {ev: j for j, ev in enumerate(writes)}
        self._memo.clear()
        for d, i in last.items():
            act = events[i][0]
            if n_ev[d] > 1 or act in ("update", "delete"):
                self._kill(d)
        for d, i in last.items():
            if events[i][0] == "delete":
                continue
            toks = docs.doc(version_of[i]).copy()
            self._kill(d)
            ei = len(self.extra)
            self.extra.append((d, toks))
            tf: dict[int, int] = {}
            for t in toks.tolist():
                tf[t] = tf.get(t, 0) + 1
            self.extra_tf.append(tf)
            for t in tf:
                self.extra_inv.setdefault(t, []).append(ei)
            self.live_extra[d] = ei
            self.n += 1
            self.sum_dl += len(toks)

    def _kill(self, d: int) -> None:
        i = self.base_index.get(d)
        if i is not None:
            self.base_live[i] = False
        self.live_extra.pop(d, None)

    def exact_view(self) -> "Oracle":
        """The current live docs under compacted statistics (N, avgdl
        and df over live docs only) -- the state right after compact().
        Valid until the next apply()."""
        v = copy.copy(self)
        v._memo = {}
        v.exact = True
        v.n = int(self.base_live.sum()) + len(self.live_extra)
        v.sum_dl = int(self.base_lens[self.base_live].sum()) + sum(
            len(self.extra[ei][1]) for ei in self.live_extra.values()
        )
        return v

    def is_live(self, d: int) -> bool:
        i = self.base_index.get(d)
        return d in self.live_extra or (i is not None and bool(self.base_live[i]))

    def doc_tokens(self, d: int) -> np.ndarray:
        """Token ids of doc d's live version."""
        if d in self.live_extra:
            return self.extra[self.live_extra[d]][1]
        return self.base.doc(self.base_index[d])

    def live_doc_ids(self) -> set[int]:
        return {int(self.base.doc_ids[i]) for i in np.flatnonzero(self.base_live)} | set(
            self.live_extra
        )

    # ---- reads ----------------------------------------------------------
    def _range(self, t: int) -> tuple[int, int]:
        """Slice of ``tok_order`` holding the positions of term t."""
        if not 0 <= t < len(self.term_start) - 1:
            return 0, 0
        return int(self.term_start[t]), int(self.term_start[t + 1])

    def _postings(self, t: int):
        """(df over all versions, live doc_ids, tfs, dls) for term id t."""
        lo, hi = self._range(t)
        # positions of t ascend, so its doc indexes come in runs
        run = self.doc_of_tok[self.tok_order[lo:hi]]
        starts = np.flatnonzero(np.diff(run, prepend=-1))
        bdocs = run[starts]
        btf = np.diff(np.append(starts, run.size))
        ext = self.extra_inv.get(t, [])
        df = bdocs.size + len(ext)
        m = self.base_live[bdocs]
        ids = [self.base.doc_ids[bdocs[m]]]
        tfs = [btf[m]]
        dls = [self.base_lens[bdocs[m]]]
        xs = [(d, ei) for ei in ext for d in (self.extra[ei][0],) if self.live_extra.get(d) == ei]
        if xs:
            ids.append(np.array([d for d, _ in xs], dtype=np.int64))
            tfs.append(np.array([self.extra_tf[ei][t] for _, ei in xs]))
            dls.append(np.array([len(self.extra[ei][1]) for _, ei in xs]))
        return df, np.concatenate(ids), np.concatenate(tfs), np.concatenate(dls)

    def _idf(self, df: int) -> float:
        return math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))

    def _term_scores(self, t: int):
        hit = self._memo.get(t)
        if hit is None:
            df, ids, tfs, dls = self._postings(t)
            if self.exact:
                df = ids.size
            avgdl = self.sum_dl / self.n
            tf = tfs.astype(np.float64)
            part = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * (dls / avgdl)))
            hit = self._memo[t] = (df, ids, self._idf(df) * part if df else np.zeros(0))
        return hit

    def match(self, term_ids: list[int], mode: str, k: int | None) -> list:
        terms = list(dict.fromkeys(term_ids))
        per = [self._term_scores(t) for t in terms]
        present = [(ids, s) for df, ids, s in per if df > 0]
        if not present or (mode == "and" and len(present) < len(terms)):
            return []
        ids = np.concatenate([i for i, _ in present])
        sc = np.concatenate([s for _, s in present])
        uniq, inv = np.unique(ids, return_inverse=True)
        sums = np.bincount(inv, weights=sc, minlength=uniq.size)
        if mode == "and":
            keep = np.bincount(inv, minlength=uniq.size) == len(terms)
            uniq, sums = uniq[keep], sums[keep]
        return _top(uniq, sums, k)

    def phrase(self, words: list[int], k: int) -> list:
        """Live docs holding ``words`` at consecutive positions, scored
        as the BM25 sum over the distinct words."""
        m = len(words)
        lo, hi = self._range(words[0])
        pos = self.tok_order[lo:hi]
        ok = pos + m - 1 < len(self.base.tokens)
        pos = pos[ok]
        for j in range(1, m):
            q = pos + j
            pos = pos[(self.base.tokens[q] == words[j]) & (self.doc_of_tok[q] == self.doc_of_tok[pos])]
        hit_docs = np.unique(self.doc_of_tok[pos])
        hits = set(int(self.base.doc_ids[i]) for i in hit_docs[self.base_live[hit_docs]])
        for d, ei in self.live_extra.items():
            toks = self.extra[ei][1]
            for p in np.flatnonzero(toks[: len(toks) - m + 1] == words[0]):
                if all(toks[p + j] == words[j] for j in range(1, m)):
                    hits.add(d)
                    break
        if not hits:
            return []
        cand = np.array(sorted(hits), dtype=np.int64)
        raw = np.zeros(cand.size)
        for t in dict.fromkeys(words):
            _df, ids, s = self._term_scores(t)
            o = np.argsort(ids)
            raw += s[o][np.searchsorted(ids[o], cand)]
        return _top(cand, raw, k)
