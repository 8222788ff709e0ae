"""Input and expected-answer generator, run as a child process so the
corpus and the oracle's memory never enter the measured driver process.

    python3 gen.py <out_dir> <seed> '<workload config json>'

Writes ``corpus.parquet`` (doc_id, text), one ``batch_NNNN.parquet``
(action, doc_id, text) per change batch, and ``plan.json``: the query
pools, the timed op stream and the oracle's compact answers for every
query in every index state the run can reach.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus as C
from oracle import Oracle

K = 10


def _ids(wid: dict, words: list[str]) -> list[int]:
    return [wid.get(w, -1) for w in words]


def _answers(oracle: Oracle, wid: dict, specs: list, phrases: list) -> dict:
    out = {C.spec_key(t, m): oracle.match(_ids(wid, t), m, K) for t, m in specs}
    out.update({"phrase:" + p: oracle.phrase(_ids(wid, p.split()), K) for p in phrases})
    return out


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def main(out_dir: str, seed: int, cfg: dict) -> None:
    rng = np.random.default_rng(seed)
    n_batches = cfg["batches"]
    vocab, pairs, docs = C.make_corpus(rng, cfg["n_docs"], cfg["n_vocab"], n_batches)
    wid = {w: i for i, w in enumerate(vocab.words)}
    _write(os.path.join(out_dir, "corpus.parquet"),
           {"doc_id": docs.doc_ids, "text": docs.texts(vocab)})
    # ASCII text, WORD_LEN letters + one separator per token
    text_bytes = dict(zip(docs.doc_ids.tolist(),
                          (np.diff(docs.offsets) * (C.WORD_LEN + 1)).tolist()))

    pools = C.query_pools(rng, vocab, pairs)
    rounds = C.op_rounds(rng, pools, cfg["rounds"], cfg["per_round"])
    n_msearch = cfg["rounds"] * cfg["per_round"]["msearch"]
    n_first = cfg["rounds"] * cfg["per_round"]["first_seen"]
    msearch = [C.msearch_batch(rng, pools) for _ in range(n_msearch)]
    first_seen = C.first_seen_queries(rng, vocab, pools, n_first)
    match_specs = [s for kind in C.MATCH_KINDS for s in pools[kind]]
    # checked through a fresh reader after the final compaction
    check_phrases = pools["phrase"][:1]

    oracle = Oracle(docs)
    plan = {
        "n_docs": len(docs),
        "n_tokens": len(docs.tokens),
        "pools": pools,
        "rounds": rounds,
        "msearch": msearch,
        "first_seen": first_seen,
        "check_phrases": check_phrases,
        "batches": [],
    }

    victims = [int(d) for d in docs.doc_ids[docs.tokens[docs.offsets[1:] - 1] == vocab.marker(0)]]
    next_id = len(docs)
    for j in range(1, n_batches + 1):
        events, writes, bdocs = C.change_batch(
            rng, vocab, pairs, j, next_id, victims,
            cfg["batch_insert"], cfg["batch_update"], cfg["batch_delete"],
        )
        next_id += cfg["batch_insert"]
        btexts = bdocs.texts(vocab).to_pylist()
        wtext = dict(zip(writes, btexts))
        _write(
            os.path.join(out_dir, f"batch_{j:04d}.parquet"),
            {
                "action": [a for a, _ in events],
                "doc_id": np.array([d for _, d in events], dtype=np.int64),
                "text": [wtext.get(i) for i in range(len(events))],
            },
        )
        touched = {d for _, d in events}
        old_markers = {
            vocab.words[oracle.doc_tokens(d)[-1]] for d in touched if oracle.is_live(d)
        }
        oracle.apply(events, writes, bdocs)
        last = {d: i for i, (_a, d) in enumerate(events)}
        for d, i in last.items():
            if events[i][0] == "delete":
                text_bytes.pop(d, None)
            else:
                text_bytes[d] = len(wtext[i])
        live = oracle.live_doc_ids()
        victims = list(dict.fromkeys([d for d in victims if d in live] + [
            d for d, i in last.items() if events[i][0] != "delete"
        ]))
        # verification: every live doc carrying this batch's marker or
        # the marker a touched doc carried before the batch; a deleted
        # or superseded version surfacing here is a mismatch
        verify = sorted(old_markers | {C.marker_word(j)})
        plan["batches"].append({
            "file": f"batch_{j:04d}.parquet",
            "verify": verify,
            "verify_expected": oracle.match(_ids(wid, verify), "or", None),
        })
    # the stream runs on the index as the batches left it
    plan["expected"] = _answers(oracle, wid, match_specs + first_seen, pools["phrase"])
    if n_batches:
        exact = oracle.exact_view()
        plan["compacted"] = _answers(exact, wid, [], check_phrases) | {
            "verify": exact.match(_ids(wid, verify), "or", None)
        }
        plan["verify_final"] = verify
    plan["live_text_bytes"] = int(sum(text_bytes.values()))
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), json.loads(sys.argv[3]))
