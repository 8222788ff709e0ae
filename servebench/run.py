"""Serving + CDC-ingest benchmark for the BM25 index engine.

    python3 servebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One driver process calls the engine's
public API in a closed loop with one waiting client (every query entry
point is a synchronous call), so each op's wall time is its service
time. Inputs and the oracle's expected answers come from a child
process (gen.py) before the Spark session starts; every timed result is
checked against them. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from corpus import MATCH_KINDS, spec_key  # noqa: E402
from oracle import same_ranking  # noqa: E402

# Spark runs local[CPUS] on both sides of a comparison; recorded in the
# output of the traced run.
CPUS = min(4, os.cpu_count() or 1)
K = 10

# One round of the timed query stream, 33 ops. No query log is
# available, so the weights are this benchmark's choice: short OR
# queries lead; zero-hit stays at 1 of 24 matches, because each costs a
# Spark job (~3x a warm match) and a larger share would move the pooled
# median by itself; 4 phrases and 4 msearch batches per round give those
# medians about 10 samples in a serve_small run. One first-seen query per
# round is 3% of the stream.
ROUND = {"or2": 6, "or4": 5, "and2": 5, "head": 2, "rare": 5, "zero": 1,
         "phrase": 4, "msearch": 4, "first_seen": 1}

# The two workloads split the engine's lifecycle. A cold Spark session
# plus a cold index build take ~25 s of a run on a 4-CPU box, so one run
# cannot also hold a long timed stream, change batches and a compaction
# within the run budget. Both time the same query kinds, so every
# end-to-end metric exists on both (README.md).
WORKLOADS = {
    # ~5k docs, single segment, serving open: every query is served
    # from the driver copy, so per-call Spark/Py4J overhead is almost
    # all of a query. The query stream runs for --seconds.
    "serve_small": dict(n_docs=5_000, batches=0, rounds=40,
                        batch_insert=0, batch_update=0, batch_delete=0),
    # writes beside reads: an untimed warm-up build of WARMUP_DOCS, a
    # timed bulk build of 40k docs (past the fixed-cost knee: on a 4-CPU
    # box a warm build has ~3.7 s of fixed cost, 20k docs take ~6 s and
    # 40k ~8.5 s), a change batch applied while a reader serves, a
    # reopen and a verifying query, probe rounds for half of --seconds
    # over the two-segment tombstoned index, one compact and a check
    # through a fresh reader
    "ingest_cdc": dict(n_docs=40_000, batches=1, rounds=20,
                       batch_insert=400, batch_update=150, batch_delete=80),
}
for _w in WORKLOADS.values():
    _w.update(n_vocab=12_000, per_round=ROUND)
# docs of the throwaway index ingest_cdc builds before its timed build,
# so JVM and Python-worker start-up are not in build_docs_per_s
WARMUP_DOCS = 1_000


class BenchError(Exception):
    pass


def _rows(df) -> list:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _reset_peak_rss() -> None:
    # Linux: writing 5 resets VmHWM to the current RSS
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise BenchError("VmHWM missing from /proc/self/status")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


class Bench:
    """One run: the engine session, the current reader, the tallies."""

    def __init__(self, work: str, plan: dict, tracer, workload: str, seed: int):
        self.work, self.plan, self.tr = work, plan, tracer
        self.workload, self.seed, self.root, self.cpus = workload, seed, ROOT, CPUS
        self.idx = os.path.join(work, "index")
        self.samples: dict[str, list[float]] = {}
        self.attempted = self.failed = 0
        self.spark = self.reader = None
        self._t_mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Wall time of the phase that just ended, to stderr."""
        now = time.perf_counter()
        print(f"servebench: {phase} {now - self._t_mark:.2f}s", file=sys.stderr)
        self._t_mark = now

    # ---- op plumbing ----------------------------------------------------
    def timed(self, kind: str, fn, check, record: bool = True):
        """Run one op; time it, check it against the oracle, tally it.
        ``check`` takes fn's result and returns True when it matches."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tr.op(kind):
                out = fn()
        except Exception:  # an op failure is tallied, the run goes on
            traceback.print_exc()
            self.failed += 1
            self.tr.count_op(kind, failed=True)
            return None
        dt = time.perf_counter() - t0
        ok = check(out)
        if not ok:
            print(f"oracle mismatch on {kind}", file=sys.stderr)
            self.failed += 1
        self.tr.count_op(kind, failed=not ok, recorded=record)
        # a wrong answer is a failed op, but its service time was real
        if record:
            self.samples.setdefault(kind, []).append(dt)
        return out

    def match(self, kind: str, terms, mode, expected, record=True, k=K):
        from go_mysql_elasticsearch_spark.query.wand import bm25_topk

        self.timed(
            kind,
            lambda: _rows(bm25_topk(self.spark, self.reader, " ".join(terms), k=k, mode=mode)),
            lambda got: same_ranking(expected, got),
            record,
        )

    def phrase(self, text, expected, record=True):
        from go_mysql_elasticsearch_spark.query.phrase import match_phrase

        self.timed(
            "phrase",
            lambda: _rows(match_phrase(self.spark, self.reader, text, k=K)),
            lambda got: same_ranking(expected, got),
            record,
        )

    def msearch(self, specs, answers, record=True):
        from go_mysql_elasticsearch_spark.query.wand import bm25_topk_batch

        def run():
            outs = bm25_topk_batch(
                self.spark, self.reader, [(" ".join(t), m) for t, m in specs], k=K
            )
            return [_rows(o) for o in outs]

        self.timed(
            "msearch", run,
            lambda got: all(
                same_ranking(answers[spec_key(t, m)], g) for (t, m), g in zip(specs, got)
            ),
            record,
        )

    # ---- lifecycle ------------------------------------------------------
    def open_reader(self) -> None:
        from go_mysql_elasticsearch_spark.index.reader import IndexReader

        with self.tr.span("index.reader.open"):
            self.reader = IndexReader(self.spark, self.idx)
            self.reader.open_serving()
            self.reader.driver_postings()
        self.tr.reader_facts(self.reader)

    def close_reader(self) -> None:
        if self.reader is not None:
            self.reader.close_serving()
            self.reader = None

    def warm_terms(self, words) -> None:
        """Resolve term ids and dfs of ``words`` in one job each, so the
        timed ops that use them measure warm service time."""
        from go_mysql_elasticsearch_spark.query.wand import term_ids

        tids = term_ids(self.spark, sorted(set(words)))
        self.reader.df_lookup(list(tids.values()))

    def build(self, docs_path: str) -> float:
        from go_mysql_elasticsearch_spark.index.build import build_index

        docs = self.spark.read.parquet(docs_path)
        t0 = time.perf_counter()
        with self.tr.op("build_index"):
            build_index(self.spark, docs, self.idx)
        return time.perf_counter() - t0

    def warm_up_build(self, docs_path: str) -> None:
        """Build and delete a throwaway index of the corpus's first
        WARMUP_DOCS docs, so the timed build runs on a warm JVM and
        warm Python workers."""
        from go_mysql_elasticsearch_spark.index.build import build_index

        path = os.path.join(self.work, "warmup-index")
        docs = self.spark.read.parquet(docs_path).limit(WARMUP_DOCS)
        with self.tr.span("index.build.warm_up"):
            build_index(self.spark, docs, path)
        shutil.rmtree(path)

    def run(self, seconds: float) -> dict:
        from go_mysql_elasticsearch_spark.session import get_spark

        plan = self.plan
        corpus = os.path.join(self.work, "input", "corpus.parquet")

        _reset_peak_rss()
        t0 = self._t_mark = time.perf_counter()
        with self.tr.span("session.get_spark"):
            self.spark = get_spark(app_name="servebench")
        self.tr.attach(self.spark)
        self.mark("session")
        if plan["batches"]:
            # ingest: the bulk build is the first timed op
            self.warm_up_build(corpus)
            setup_s = time.perf_counter() - t0
            self.mark("warm-up build")
            build_s = self.build(corpus)
            self.open_reader()
            self.mark("build+open")
            fresh = [self.change_batch(b) for b in plan["batches"]]
            self.mark("batches")
            self.warm_up()
            self.serve_stream(seconds / 2)
            self.mark("probe")
            compact_s = self.compact_and_check()
            self.mark("compact+check")
        else:
            build_s = self.build(corpus)
            self.open_reader()
            self.mark("build+open")
            self.warm_up()
            setup_s = time.perf_counter() - t0
            self.mark("warm-up")
            self.serve_stream(seconds)
            self.mark("stream")
            fresh, compact_s = [], None
        self.freshness, self.compact_s = fresh, compact_s
        print(f"servebench: samples { {k: len(v) for k, v in self.samples.items()} }",
              file=sys.stderr)
        return {
            "setup_s": (setup_s, "s"),
            "match_p50_ms": (self.pct("match", 50) * 1e3, "ms"),
            "phrase_p50_ms": (self.pct("phrase", 50) * 1e3, "ms"),
            "msearch_p50_ms": (self.pct("msearch", 50) * 1e3, "ms"),
            "build_docs_per_s": (plan["n_docs"] / build_s, "docs/s"),
            "index_bytes_per_input_byte": (
                _dir_bytes(self.idx) / plan["live_text_bytes"], "ratio"),
            "driver_peak_rss_mb": (_peak_rss_mb(), "MB"),
        }

    def pool_words(self) -> list[str]:
        pools = self.plan["pools"]
        words = [w for k in pools if k != "phrase" for terms, _m in pools[k] for w in terms]
        return words + [w for p in pools["phrase"] for w in p.split()]

    def warm_up(self) -> None:
        """Resolve every pool term, then run the stream's first round
        checked but untimed, so the JVM and Python paths are warm when
        timing starts (the first ~20 ops after set-up run ~25% slower).
        Its first-seen query is skipped: those pay Spark jobs that are
        no part of warming the serving path."""
        self.warm_terms(self.pool_words())
        for kind, idx in self.plan["rounds"][0]:
            if kind != "first_seen":
                self.stream_op(kind, idx, record=False)

    def pct(self, group: str, q: int) -> float:
        if group == "match":
            xs = [x for k, v in self.samples.items() if k in MATCH_KINDS for x in v]
        else:
            xs = self.samples.get(group, [])
        if len(xs) < 2:
            raise BenchError(f"too few {group} samples ({len(xs)})")
        return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]

    def serve_stream(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        # round 0 was the warm-up; the first timed round always
        # completes, so every op kind has samples however slow ops are
        for r, ops in enumerate(self.plan["rounds"][1:]):
            for kind, idx in ops:
                if r and time.perf_counter() >= deadline:
                    return
                self.stream_op(kind, idx)
            if time.perf_counter() >= deadline:
                return
        raise BenchError("op stream exhausted before the deadline")

    def stream_op(self, kind: str, idx: int, record: bool = True) -> None:
        plan = self.plan
        pools, answers = plan["pools"], plan["expected"]
        if kind == "phrase":
            p = pools["phrase"][idx]
            self.phrase(p, answers["phrase:" + p], record)
        elif kind == "msearch":
            self.msearch(plan["msearch"][idx], answers, record)
        elif kind == "first_seen":
            terms, mode = plan["first_seen"][idx]
            self.match("first_seen", terms, mode, answers[spec_key(terms, mode)], record)
        else:
            terms, mode = pools[kind][idx]
            self.match(kind, terms, mode, answers[spec_key(terms, mode)], record)

    def change_batch(self, batch: dict) -> float:
        """Apply one batch while the old reader keeps serving; return
        the time until a reopened reader returns the changed docs."""
        from go_mysql_elasticsearch_spark.query.wand import bm25_topk
        from go_mysql_elasticsearch_spark.streaming.incremental import apply_changes

        changes = self.spark.read.parquet(os.path.join(self.work, "input", batch["file"]))
        vexp = batch["verify_expected"]

        def apply_and_verify():
            apply_changes(self.spark, self.idx, changes)
            self.close_reader()
            self.open_reader()
            return _rows(bm25_topk(self.spark, self.reader, " ".join(batch["verify"]),
                                   k=len(vexp) + K))

        t0 = time.perf_counter()
        self.timed("freshness", apply_and_verify, lambda got: same_ranking(vexp, got),
                   record=False)
        return time.perf_counter() - t0

    def compact_and_check(self) -> float:
        """Compact, then check through a fresh reader (serving closed)."""
        from go_mysql_elasticsearch_spark.index.reader import IndexReader
        from go_mysql_elasticsearch_spark.streaming.incremental import compact

        segments = len(self.reader.manifests)
        tombstones = self.reader.tombstones_count()
        # compaction replaces the generation the residency was built from
        self.close_reader()
        t0 = time.perf_counter()
        self.timed("compact", lambda: compact(self.spark, self.idx), lambda _m: True,
                   record=False)
        compact_s = time.perf_counter() - t0
        self.reader = IndexReader(self.spark, self.idx)
        self.tr.compact_facts(segments, tombstones,
                              _dir_bytes(self.reader.root) / self.plan["live_text_bytes"])
        plan = self.plan
        answers = plan["compacted"]
        self.match("final_check", plan["verify_final"], "or", answers["verify"], record=False,
                   k=len(answers["verify"]) + K)
        for p in plan["check_phrases"]:
            self.phrase(p, answers["phrase:" + p], record=False)
        return compact_s

    def close(self) -> None:
        self.close_reader()
        spark, self.spark = self.spark, None
        if spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            spark.stop()
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()


def _engine_env(work: str, trace: bool) -> None:
    """Point Spark's scratch space, the warehouse and temp files into
    the run's work dir, and make Python workers import this checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file: the JVM would write it to /tmp, not tmpdir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        workers = os.path.join(work, "trace-workers")
        for d in (events, workers):
            os.makedirs(d, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.python.daemon.module": "worker_hook"})
        os.environ["SERVEBENCH_TRACE_DIR"] = workers
        os.environ["PYTHONPATH"] += os.pathsep + HERE
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cfg = WORKLOADS[args.workload]

    if not os.path.isdir(os.path.join(ROOT, "go_mysql_elasticsearch_spark")):
        print("engine package not found next to servebench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".servebench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    bench = None
    try:
        inputs = os.path.join(work, "input")
        os.makedirs(inputs)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), inputs, str(args.seed),
             json.dumps(cfg)],
            check=True,
        )
        with open(os.path.join(inputs, "plan.json")) as f:
            plan = json.load(f)
        _engine_env(work, bool(args.trace))
        import spans

        tracer = spans.Tracer(work) if args.trace else spans.NullTracer()
        bench = Bench(work, plan, tracer, args.workload, args.seed)
        metrics = bench.run(args.seconds)
        bench.close()
        if args.trace:
            metrics = tracer.report(bench, metrics)
        result = {"correct": bench.failed == 0, "attempted": bench.attempted,
                  "failed": bench.failed,
                  "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
        base = os.path.dirname(work)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
