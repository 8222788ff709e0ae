"""Seeded benchmark inputs: corpus, query pools, timed op stream and
CDC change batches. Everything here is a pure function of the seed and
the workload's sizes, so both sides of an A/B receive identical inputs.

Documents are token-id arrays over a word table in which every word is
exactly six characters (three consonant+vowel syllables, or a
``mk0000``-style batch marker). That lets the text of the whole corpus
be laid out as one byte buffer -- six letters plus a separator per
token -- and handed to Arrow without a per-token Python string.
"""

from __future__ import annotations

import numpy as np

SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]  # 90
WORD_SPACE = len(SYLLABLES) ** 3
WORD_LEN = 6

MIN_DOC_TOKENS, MAX_DOC_TOKENS = 20, 300
# doc lengths: lognormal clipped to [MIN, MAX] -- many short pages, a
# long tail (median ~60 tokens, mean ~80)
DOC_LEN_MU, DOC_LEN_SIGMA = 4.1, 0.7
ZIPF_S = 1.0
N_PHRASE_PAIRS = 24
PHRASE_PLANT_RATE = 0.03
POOL_PER_KIND = 24
# msearch batches have a fixed composition (kinds below, 8 in all), so
# every batch costs about the same; the picks within a kind vary
MSEARCH_KINDS = ("or2", "or2", "or4", "or4", "and2", "and2", "rare", "zero")


def spec_key(terms: list[str], mode: str) -> str:
    """Key of a match query in the plan's answer tables."""
    return mode + ":" + " ".join(terms)


def syllable_word(i: int) -> str:
    a, r = divmod(int(i), len(SYLLABLES) ** 2)
    b, c = divmod(r, len(SYLLABLES))
    return SYLLABLES[a] + SYLLABLES[b] + SYLLABLES[c]


def marker_word(batch: int) -> str:
    """Term carried by the docs a change batch writes (batch 0 marks a
    slice of the base corpus, the first victims of updates/deletes)."""
    return f"mk{batch:04d}"


class Vocab:
    """Rank-ordered word table: id r < n_vocab is the Zipf rank-r word;
    ids from n_vocab on are batch markers."""

    def __init__(self, rng: np.random.Generator, n_vocab: int, n_markers: int):
        picks = rng.choice(WORD_SPACE, size=n_vocab, replace=False)
        self.n_vocab = n_vocab
        self.words = [syllable_word(i) for i in picks] + [
            marker_word(j) for j in range(n_markers)
        ]
        self.table = np.frombuffer(
            "".join(self.words).encode("ascii"), dtype=np.uint8
        ).reshape(-1, WORD_LEN)
        p = 1.0 / np.arange(1, n_vocab + 1, dtype=np.float64) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def marker(self, batch: int) -> int:
        return self.n_vocab + batch

    def sample(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return np.minimum(idx, self.n_vocab - 1).astype(np.int32)


class Docs:
    """CSR token arrays: doc i is ``tokens[offsets[i]:offsets[i+1]]``."""

    def __init__(self, doc_ids: np.ndarray, tokens: np.ndarray, offsets: np.ndarray):
        self.doc_ids = doc_ids.astype(np.int64)
        self.tokens = tokens.astype(np.int32)
        self.offsets = offsets.astype(np.int64)

    def __len__(self) -> int:
        return len(self.doc_ids)

    def doc(self, i: int) -> np.ndarray:
        return self.tokens[self.offsets[i] : self.offsets[i + 1]]

    def texts(self, vocab: Vocab):
        """Arrow string array of the docs' texts: words joined by one
        space, first letter upper-cased, a full stop at the end."""
        import pyarrow as pa

        buf = np.empty((len(self.tokens), WORD_LEN + 1), dtype=np.uint8)
        buf[:, :WORD_LEN] = vocab.table[self.tokens]
        buf[:, WORD_LEN] = ord(" ")
        flat = buf.reshape(-1)
        ends = self.offsets[1:] * (WORD_LEN + 1) - 1
        flat[ends] = ord(".")
        starts = self.offsets[:-1] * (WORD_LEN + 1)
        first = flat[starts]
        flat[starts] = np.where(first >= ord("a"), first - 32, first)
        offs = (self.offsets * (WORD_LEN + 1)).astype(np.int32)
        return pa.StringArray.from_buffers(
            len(self), pa.py_buffer(offs.tobytes()), pa.py_buffer(flat.tobytes())
        )


def _sample_docs(rng, vocab: Vocab, doc_ids: np.ndarray, pairs: np.ndarray,
                 marker: int | None = None, marker_rate: float = 0.0) -> Docs:
    n = len(doc_ids)
    lens = np.clip(rng.lognormal(DOC_LEN_MU, DOC_LEN_SIGMA, size=n).astype(np.int64),
                   MIN_DOC_TOKENS, MAX_DOC_TOKENS)
    offsets = np.concatenate(([0], np.cumsum(lens)))
    tokens = vocab.sample(rng, int(offsets[-1]))
    # planted phrase pairs: a known adjacent (a, b) at a random offset
    plant = np.flatnonzero(rng.random(n) < PHRASE_PLANT_RATE)
    which = rng.integers(0, len(pairs), size=plant.size)
    at = offsets[plant] + (rng.random(plant.size) * (lens[plant] - 1)).astype(np.int64)
    tokens[at] = pairs[which, 0]
    tokens[at + 1] = pairs[which, 1]
    if marker is not None:
        marked = np.flatnonzero(rng.random(n) < marker_rate)
        tokens[offsets[marked] + lens[marked] - 1] = marker
    return Docs(doc_ids, tokens, offsets)


def make_corpus(rng, n_docs: int, n_vocab: int, n_batches: int):
    vocab = Vocab(rng, n_vocab, n_batches + 1)
    # phrase pairs from a narrow mid-frequency band (distinct words), so
    # phrase queries cost about the same whatever the seed
    band = rng.choice(np.arange(100, min(600, n_vocab)), size=2 * N_PHRASE_PAIRS, replace=False)
    pairs = band.reshape(-1, 2).astype(np.int32)
    marker_rate = min(0.05, 200.0 / n_docs)
    docs = _sample_docs(rng, vocab, np.arange(n_docs), pairs, vocab.marker(0), marker_rate)
    return vocab, pairs, docs


def _terms(vocab: Vocab, ids) -> list[str]:
    return [vocab.words[int(i)] for i in ids]


def query_pools(rng, vocab: Vocab, pairs: np.ndarray) -> dict[str, list]:
    """Fixed per-kind query pools. Match specs are ``(terms, mode)``;
    phrases are strings. Rank bands are relative to a Zipf vocabulary,
    so each kind keeps its df profile across seeds."""
    v = vocab.n_vocab
    P = POOL_PER_KIND

    def band(lo, hi, n):
        return rng.integers(lo, min(hi, v), size=n)

    pools: dict[str, list] = {
        "or2": [(_terms(vocab, band(5, 3000, 2)), "or") for _ in range(P)],
        "or4": [(_terms(vocab, np.concatenate((band(0, 50, 1), band(50, 6000, 3)))), "or")
                for _ in range(P)],
        "and2": [(_terms(vocab, (band(0, 30, 1)[0], band(30, 1500, 1)[0])), "and")
                 for _ in range(P)],
        "head": [(_terms(vocab, [r]), "or") for r in range(0, 6)],
        "rare": [(_terms(vocab, band(v // 2, v, 1)), "or") for _ in range(P)],
        "zero": [([f"zq{int(x):04d}"], "or") for x in rng.integers(0, 10_000, size=P // 2)]
        + [(_terms(vocab, band(0, 500, 1)) + [f"zq{int(x):04d}"], "and")
           for x in rng.integers(0, 10_000, size=P // 2)],
    }
    # phrases: the planted pairs (each has hits)
    pools["phrase"] = [f"{vocab.words[a]} {vocab.words[b]}" for a, b in pairs]
    return pools


MATCH_KINDS = ("or2", "or4", "and2", "head", "rare", "zero")


def zipf_pick(rng, n: int, size: int) -> np.ndarray:
    """Popularity over a pool of n entries: entry i has weight 1/(i+1)."""
    w = 1.0 / np.arange(1, n + 1)
    return np.searchsorted(np.cumsum(w / w.sum()), rng.random(size), side="right").clip(0, n - 1)


def first_seen_queries(rng, vocab: Vocab, pools: dict, n: int) -> list:
    """Queries each carrying one term no pool query uses, drawn from
    the mid/rare band so every one has hits."""
    used = {t for kind in MATCH_KINDS for terms, _ in pools[kind] for t in terms}
    used |= {t for p in pools["phrase"] for t in p.split()}
    out = []
    for r in rng.permutation(np.arange(100, vocab.n_vocab)):
        w = vocab.words[int(r)]
        if w in used:
            continue
        used.add(w)
        out.append(([w], "or"))
        if len(out) == n:
            break
    return out


def op_rounds(rng, pools: dict, n_rounds: int, per_round: dict[str, int]) -> list[list]:
    """Timed op stream as rounds: each round is the fixed multiset
    ``per_round`` of op kinds, shuffled, so any whole number of rounds
    holds the same mix. An op is (kind, index): a pool index drawn by
    popularity for match kinds and phrases; a running number for
    msearch and first_seen, whose inputs are generated per use."""
    seq = {"first_seen": 0, "msearch": 0}
    rounds = []
    for _ in range(n_rounds):
        kinds = [k for k, n in per_round.items() for _ in range(n)]
        ops = []
        for i in rng.permutation(len(kinds)):
            kind = kinds[int(i)]
            if kind in seq:
                ops.append((kind, seq[kind]))
                seq[kind] += 1
            else:
                ops.append((kind, int(zipf_pick(rng, len(pools[kind]), 1)[0])))
        rounds.append(ops)
    return rounds


def msearch_batch(rng, pools: dict) -> list:
    return [pools[k][int(zipf_pick(rng, len(pools[k]), 1)[0])] for k in MSEARCH_KINDS]


def change_batch(rng, vocab: Vocab, pairs, batch: int, next_id: int,
                 victims_pool: list[int], n_insert: int, n_update: int, n_delete: int):
    """One CDC batch as (actions, doc_ids, Docs-for-writes). Updates and
    deletes hit docs that carry an earlier batch's marker; some keys get
    two events in the batch (update→update, update→delete,
    insert→update), exercising the last-event-wins collapse. Returns
    the events in order plus the new versions' token arrays."""
    marker = vocab.marker(batch)
    k = min(len(victims_pool), n_update + n_delete)
    victims = [victims_pool[i] for i in rng.choice(len(victims_pool), size=k, replace=False)]
    upd, dele = victims[:n_update], victims[n_update:]
    ins = list(range(next_id, next_id + n_insert))
    events: list[tuple[str, int]] = [("insert", d) for d in ins]
    events += [("update", d) for d in upd] + [("delete", d) for d in dele]
    # repeats of a key inside the batch
    rep = max(1, len(events) // 10)
    for i in rng.choice(len(events), size=rep, replace=False):
        act, d = events[int(i)]
        second = "delete" if (act == "update" and rng.random() < 0.5) else "update"
        events.append((second, d))
    order = rng.permutation(len(events) - rep)
    events = [events[int(i)] for i in order] + events[len(events) - rep:]
    writes = [i for i, (a, _d) in enumerate(events) if a != "delete"]
    docs = _sample_docs(rng, vocab, np.array([events[i][1] for i in writes]), pairs)
    # every written version carries the batch marker as its last token
    docs.tokens[docs.offsets[1:] - 1] = marker
    return events, writes, docs
