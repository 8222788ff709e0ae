"""Tracing for the per-layer run (``--trace 1``).

Spans are recorded from this directory's code only: the Tracer replaces
module attributes the engine calls through with wrappers that time the
call (the package itself is not edited). Each timed op runs under its
own Spark job group, so the status tracker gives its job count and the
Spark event log -- enabled for traced runs only -- gives executor time
per op and per build phase. The Python daemon of traced runs is
``worker_hook``, which records the positional decode done in executors.

A span is (name, start, end, parent, op). A layer's self time is its
span's duration minus its child spans. Spans stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

from corpus import MATCH_KINDS

PHASES = {"docs.parquet": "docstore", "postings.parquet": "postings",
          "term_dict.parquet": "term_dict", "tombstones.parquet": "tombstones"}


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    def attach(self, spark) -> None:
        pass

    @contextlib.contextmanager
    def op(self, kind: str):
        yield

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    def count_op(self, kind: str, failed: bool, recorded: bool = False) -> None:
        pass

    def reader_facts(self, reader) -> None:
        pass

    def compact_facts(self, segments: int, tombstones: int, rewritten: float) -> None:
        pass


def _cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of /proc/stat (Linux)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


class Tracer(NullTracer):
    def __init__(self, work: str):
        self.work = work
        self.spans: list[list] = []  # [name, start, end, parent, op, count]
        self.stack: list[int] = []
        self.ops: list[dict] = []
        self.cur_op: int | None = None
        self.tally: dict[str, list[int]] = {}
        self.sc = None
        self.manifests: list[dict] = []
        self.facts: dict[str, tuple] = {}
        self._by_op: dict | None = None  # op id -> span indexes, built by report()

    # ---- recording ------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        i = len(self.spans)
        self.spans.append([name, time.perf_counter(), None,
                           self.stack[-1] if self.stack else None, self.cur_op, 0])
        self.stack.append(i)
        try:
            yield i
        finally:
            self.spans[i][2] = time.perf_counter()
            self.stack.pop()

    @contextlib.contextmanager
    def op(self, kind: str):
        oid = len(self.ops)
        group = f"servebench-op-{oid}"
        rec = {"id": oid, "kind": kind, "group": group, "jobs": [],
               "t0": time.time(), "t1": None, "span": None}
        self.ops.append(rec)
        self.cur_op = oid
        if self.sc is not None:
            self.sc.setJobGroup(group, kind)
        try:
            with self.span("op." + kind) as i:
                rec["span"] = i
                yield
        finally:
            rec["t1"] = time.time()
            self.cur_op = None
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec["jobs"] = list(self.sc.statusTracker().getJobIdsForGroup(group))

    def count_op(self, kind: str, failed: bool, recorded: bool = False) -> None:
        t = self.tally.setdefault(kind, [0, 0])
        t[0] += 1
        t[1] += int(failed)
        if recorded and self.ops:
            self.ops[-1]["recorded"] = True

    def reader_facts(self, reader) -> None:
        """Sizes of the serving residency just opened."""
        dp = reader.driver_postings()
        if dp is not None:
            self.facts["index.reader.driver_copy_mb"] = (
                dp.memory_usage(deep=True).sum() / 2**20, "MB")
        self.facts["index.reader.packed_postings_mb"] = (
            sum(m.get("postings_bytes", 0) for m in reader.manifests) / 2**20, "MB")
        self.facts["index.reader.serving_parts"] = (
            reader.postings().rdd.getNumPartitions(), "count")

    def compact_facts(self, segments: int, tombstones: int, rewritten: float) -> None:
        """Index shape compaction started from, and the bytes of the
        generation it wrote per byte of live input text."""
        self.facts["streaming.incremental.segments"] = (segments, "count")
        self.facts["streaming.incremental.tombstones"] = (tombstones, "count")
        self.facts["streaming.incremental.bytes_rewritten_per_live_byte"] = (rewritten, "ratio")

    def _jobs_now(self) -> int:
        op = self.ops[self.cur_op] if self.cur_op is not None else None
        if op is None or self.sc is None:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(op["group"]))

    def _wrap(self, owner, attr: str, name: str, count=None) -> None:
        """Replace ``owner.attr`` with a traced call. ``count`` maps
        (args, kwargs, result) to the span's count; ``"jobs"`` counts
        the Spark jobs the call launched."""
        orig = getattr(owner, attr)
        tr = self
        if count == "jobs":
            count = None
            jobs = True
        else:
            jobs = False

        # functools.wraps keeps __module__/__qualname__, so closures the
        # engine ships to executors still pickle this attribute by
        # reference and workers run the original function
        @functools.wraps(orig)
        def traced(*a, **kw):
            with tr.span(name) as i:
                before = tr._jobs_now() if jobs else 0
                out = orig(*a, **kw)
                if jobs:
                    tr.spans[i][5] = tr._jobs_now() - before
                elif count is not None:
                    tr.spans[i][5] = count(a, kw, out)
            return out

        setattr(owner, attr, traced)

    def attach(self, spark) -> None:
        from go_mysql_elasticsearch_spark.index import build, reader
        from go_mysql_elasticsearch_spark.query import phrase, wand
        from go_mysql_elasticsearch_spark.streaming import incremental

        self.sc = spark.sparkContext
        sc = self.sc
        self.cpu0 = _cpu_times()
        w = self._wrap
        R = reader.IndexReader

        def keep_manifests(a, kw, out):
            self.manifests = [m for m in out if m]
            return len(self.manifests)

        w(build, "build_index", "index.build.build_index", keep_manifests)
        w(incremental, "build_segment", "index.build.segment_build")
        w(incremental, "apply_changes", "streaming.incremental.apply_changes")
        w(incremental, "compact", "streaming.incremental.compact")
        w(R, "open_serving", "index.reader.open_serving")
        w(R, "driver_postings", "index.reader.driver_postings")
        w(R, "df_lookup", "index.reader.df_lookup", "jobs")
        w(R, "tombstones_count", "index.reader.tombstones")
        w(R, "tombstones_map", "index.reader.tombstones")
        w(wand, "term_ids", "query.wand.term_ids", "jobs")
        w(wand, "bm25_topk", "query.wand.bm25_topk")
        w(wand, "bm25_topk_batch", "query.wand.bm25_topk_batch")
        w(wand, "_score_matched_driver", "query.wand.kernel")
        # blocks present = rows of the driver-copy slice; None = the
        # query did not take the resident driver route
        w(wand, "_driver_matched", "index.reader.slice",
          lambda a, kw, out: -1 if out is None else len(out))
        w(wand, "unpack_blocks_batch", "index.codec.decode", lambda a, kw, out: len(a[0]))
        w(phrase, "match_phrase", "query.phrase.match_phrase")
        w(phrase, "_positional_hits", "query.phrase.positional_hits")
        w(phrase, "unpack_blocks_batch", "index.codec.decode", lambda a, kw, out: len(a[0]))
        w(phrase, "unpack_positions_batch", "index.codec.decode_positions",
          lambda a, kw, out: len(out[0]))

        df_cls = type(spark.range(1))
        w(df_cls, "collect", "spark.collect")
        w(df_cls, "toPandas", "spark.to_pandas")
        w(type(spark), "createDataFrame", "spark.create_dataframe")
        writer_cls = type(spark.range(1).write)
        orig_parquet = writer_cls.parquet

        @functools.wraps(orig_parquet)
        def parquet(writer, path, *a, **kw):
            phase = PHASES.get(os.path.basename(str(path).rstrip("/")), "other")
            sc.setLocalProperty("servebench.phase", phase)
            try:
                with self.span("index.build.write." + phase):
                    return orig_parquet(writer, path, *a, **kw)
            finally:
                sc.setLocalProperty("servebench.phase", None)

        writer_cls.parquet = parquet

    # ---- analysis -------------------------------------------------------
    def _dur(self, i: int) -> float:
        s = self.spans[i]
        return s[2] - s[1]

    def _op_spans(self, op: dict) -> list[int]:
        if self._by_op is None:
            self._by_op = {}
            for i, s in enumerate(self.spans):
                self._by_op.setdefault(s[4], []).append(i)
        return self._by_op.get(op["id"], [])

    def _sum(self, op: dict, name: str) -> float:
        """Seconds in spans called ``name`` inside ``op`` (nested
        same-name spans counted once)."""
        tot = 0.0
        for i in self._op_spans(op):
            s = self.spans[i]
            if s[0] == name and not (s[3] is not None and self.spans[s[3]][0] == name):
                tot += self._dur(i)
        return tot

    def _count(self, op: dict, name: str) -> int:
        return sum(self.spans[i][5] for i in self._op_spans(op) if self.spans[i][0] == name)

    def _self_time(self, op: dict, name: str) -> float:
        ids = self._op_spans(op)
        tot = 0.0
        for i in ids:
            if self.spans[i][0] != name:
                continue
            kids = sum(self._dur(j) for j in ids if self.spans[j][3] == i)
            tot += self._dur(i) - kids
        return tot

    def _ops(self, *kinds) -> list[dict]:
        return [o for o in self.ops if o["kind"] in kinds and o["t1"] is not None]

    def _timed(self, *kinds) -> list[dict]:
        """Ops whose samples count toward the end-to-end metrics."""
        return [o for o in self._ops(*kinds) if o.get("recorded")]

    def coverage(self, op: dict) -> float:
        """Share of the op's wall its top-level layer spans cover."""
        i = op["span"]
        kids = sum(self._dur(j) for j in self._op_spans(op) if self.spans[j][3] == i)
        return kids / self._dur(i) if self._dur(i) > 0 else 0.0

    # ---- executor side --------------------------------------------------
    def _event_log(self) -> dict:
        """Per-job executor totals from the Spark event log: job ->
        {group, phase, cpu_s, run_ms, delay_ms, shuffle_bytes, spill}."""
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        paths = sorted(
            os.path.join(r, f) for r, _d, fs in os.walk(os.path.join(self.work, "events"))
            for f in fs if not f.startswith(("appstatus", "."))
        )
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jid = ev["Job ID"]
                        jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                     "phase": props.get("servebench.phase"),
                                     "cpu_s": 0.0, "run_ms": 0.0, "delay_ms": 0.0,
                                     "shuffle_bytes": 0, "spill": 0}
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                    elif kind == "SparkListenerTaskEnd":
                        job = jobs.get(stage_job.get(ev.get("Stage ID")))
                        m = ev.get("Task Metrics")
                        if job is None or not m:
                            continue
                        info = ev["Task Info"]
                        run = m.get("Executor Run Time", 0)
                        job["run_ms"] += run
                        job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        job["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0)
                        job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0)
                        getting = info.get("Getting Result Time", 0)
                        getting = info["Finish Time"] - getting if getting else 0
                        job["delay_ms"] += max(0, info["Finish Time"] - info["Launch Time"] - run
                                               - m.get("Executor Deserialize Time", 0)
                                               - m.get("Result Serialization Time", 0) - getting)
        return jobs

    def _worker_records(self) -> list[tuple]:
        """(wall start, wall end, name, count) from worker_hook files."""
        out = []
        for path in glob.glob(os.path.join(self.work, "trace-workers", "*.tsv")):
            with open(path) as f:
                for line in f:
                    t0, t1, name, n = line.split("\t")
                    out.append((float(t0), float(t1), name, int(n)))
        return out

    # ---- report ---------------------------------------------------------
    def report(self, bench, e2e: dict) -> dict:
        """Per-layer metrics: name -> (value, unit)."""
        jobs = self._event_log()
        by_group: dict[str, list[dict]] = {}
        for j in jobs.values():
            by_group.setdefault(j["group"], []).append(j)
        workers = self._worker_records()

        def op_jobs(op):
            return by_group.get(op["group"], [])

        def worker_sum(op, name, field):
            sel = [r for r in workers if r[2] == name and op["t0"] <= r[0] <= op["t1"]]
            return sum((r[1] - r[0]) if field == "s" else r[3] for r in sel)

        match = self._timed(*MATCH_KINDS)
        phrases = self._timed("phrase")
        msearch = self._timed("msearch")
        first = self._timed("first_seen")
        builds = self._ops("build_index")
        fresh = self._ops("freshness")
        compacts = self._ops("compact")
        out: dict[str, tuple] = {}

        def put(name, value, unit):
            out[name] = (float(value), unit)

        # session
        sess = [i for i, s in enumerate(self.spans) if s[0] == "session.get_spark"]
        put("session.get_spark_s", self._dur(sess[0]) if sess else 0.0, "s")

        # index.build: ingest_cdc's untimed warm-up build (in setup_s),
        # then the workload's bulk build, split by write phase
        put("index.build.warm_up_s", sum(
            self._dur(i) for i, s in enumerate(self.spans) if s[0] == "index.build.warm_up"), "s")
        b = builds[0] if builds else None
        put("index.build.build_index_s", self._sum(b, "index.build.build_index") if b else 0, "s")
        bj = op_jobs(b) if b else []
        put("index.build.executor_cpu_s", sum(j["cpu_s"] for j in bj), "s")
        for phase in ("docstore", "postings", "term_dict"):
            put(f"index.build.{phase}_job_s",
                self._sum(b, "index.build.write." + phase) if b else 0, "s")
        tokens = bench.plan["n_tokens"]
        put("index.build.shuffle_bytes_per_token",
            sum(j["shuffle_bytes"] for j in bj if j["phase"] == "postings") / tokens, "B/token")
        put("index.build.spill_bytes", sum(j["spill"] for j in bj), "B")
        put("index.build.segment_build_s",
            _med(self._sum(o, "index.build.segment_build") for o in fresh), "s")
        n_post = sum(m.get("n_postings", 0) for m in self.manifests)
        put("index.build.postings_bytes_per_posting",
            sum(m.get("postings_bytes", 0) for m in self.manifests) / n_post if n_post else 0,
            "B/posting")

        # index.codec: driver-side decode per match; positions per phrase
        # (driver and executors)
        put("index.codec.decode_ms", _med(self._sum(o, "index.codec.decode") * 1e3 for o in match), "ms")
        put("index.codec.blocks_decoded", _med(self._count(o, "index.codec.decode") for o in match), "count")
        put("index.codec.positions_decoded",
            _med(self._count(o, "index.codec.decode_positions")
                 + worker_sum(o, "positions", "n") for o in phrases), "count")

        # index.reader
        put("index.reader.open_serving_s", _med(
            self._dur(i) for i, s in enumerate(self.spans) if s[0] == "index.reader.open_serving"), "s")
        put("index.reader.driver_postings_s", _med(
            self._dur(i) for i, s in enumerate(self.spans)
            if s[0] == "index.reader.driver_postings" and s[3] is not None
            and self.spans[s[3]][0] == "index.reader.open"), "s")
        out.update(self.facts)
        for k, u in (("driver_copy_mb", "MB"), ("packed_postings_mb", "MB"), ("serving_parts", "count")):
            out.setdefault("index.reader." + k, (0.0, u))
        put("index.reader.slice_ms", _med(self._sum(o, "index.reader.slice") * 1e3 for o in match), "ms")
        put("index.reader.df_lookup_ms", _med(self._sum(o, "index.reader.df_lookup") * 1e3 for o in first), "ms")
        put("index.reader.df_lookup_jobs", _med(
            self._count(o, "index.reader.df_lookup") for o in first), "count")
        put("index.reader.tombstones_ms", _med(self._sum(o, "index.reader.tombstones") * 1e3 for o in fresh), "ms")

        # query.wand
        put("query.wand.term_ids_ms", _med(self._sum(o, "query.wand.term_ids") * 1e3 for o in first), "ms")
        put("query.wand.term_ids_jobs", _med(
            self._count(o, "query.wand.term_ids") for o in first), "count")
        put("query.wand.kernel_ms", _med(self._self_time(o, "query.wand.kernel") * 1e3 for o in match), "ms")
        present = [self._count(o, "index.reader.slice") for o in match]
        decoded = [self._count(o, "index.codec.decode") for o in match]
        base = sum(p for p in present if p > 0)
        put("query.wand.blocks_present", base, "count")
        put("query.wand.blocks_decoded_per_present",
            sum(d for d, p in zip(decoded, present) if p > 0) / base if base else 0, "ratio")
        put("query.wand.self_ms", _med(self._self_time(o, "query.wand.bm25_topk") * 1e3 for o in match), "ms")
        # share of hit-bearing match queries scored from the driver copy
        scored = [p > 0 for o, p in zip(match, present) if o["kind"] != "zero"]
        put("query.wand.driver_route_share", sum(scored) / len(scored) if scored else 0, "ratio")
        put("query.wand.msearch_self_ms",
            _med(self._self_time(o, "query.wand.bm25_topk_batch") * 1e3 for o in msearch), "ms")

        # query.phrase
        put("query.phrase.positional_ms", _med(
            (self._sum(o, "index.codec.decode_positions") + worker_sum(o, "positional", "s")) * 1e3
            for o in phrases), "ms")
        put("query.phrase.executor_run_ms", _med(
            sum(j["run_ms"] for j in op_jobs(o)) for o in phrases), "ms")
        put("query.phrase.rerank_ms", _med(self._sum(o, "spark.collect") * 1e3 for o in phrases), "ms")

        # spark: the PySpark/Py4J boundary
        put("spark.jobs_per_match", _med(len(o["jobs"]) for o in match), "count")
        put("spark.jobs_per_phrase", _med(len(o["jobs"]) for o in phrases), "count")
        put("spark.jobs_per_msearch", _med(len(o["jobs"]) for o in msearch), "count")
        put("spark.create_dataframe_ms", _med(
            self._sum(o, "spark.create_dataframe") * 1e3 for o in match), "ms")
        put("spark.collect_ms", _med(self._sum(o, "spark.collect") * 1e3 for o in match), "ms")
        put("spark.scheduler_delay_ms", _med(
            sum(j["delay_ms"] for j in op_jobs(o)) for o in phrases + fresh), "ms")

        # streaming.incremental
        put("streaming.incremental.apply_changes_s", _med(
            self._sum(o, "streaming.incremental.apply_changes") for o in fresh), "s")
        put("streaming.incremental.reopen_s", _med(
            self._sum(o, "index.reader.open") for o in fresh), "s")
        put("streaming.incremental.compact_rebuild_s", _med(
            self._sum(o, "index.build.build_index") for o in compacts), "s")
        for k, u in (("bytes_rewritten_per_live_byte", "ratio"), ("segments", "count"),
                     ("tombstones", "count")):
            out.setdefault("streaming.incremental." + k, (0.0, u))

        # end-to-end metrics this budget can only measure on one workload
        put("streaming.incremental.freshness_s", _med(bench.freshness), "s")
        put("streaming.incremental.compact_s", bench.compact_s or 0.0, "s")
        put("query.wand.match_p90_ms", bench.pct("match", 90) * 1e3, "ms")
        # first-seen queries are 3% of the stream: a run holds too few for
        # a steady end-to-end median
        put("query.wand.first_seen_p50_ms",
            _med(x * 1e3 for x in bench.samples.get("first_seen", [])), "ms")

        # trace bookkeeping: e2e metrics as measured under tracing (the
        # overhead is their difference to an untraced run of the seed),
        # layer-span coverage of each op kind, op tallies
        for k, (v, u) in e2e.items():
            put("trace.e2e." + k, v, u)
        for kind in ("match", "phrase", "msearch", "first_seen", "freshness", "build_index"):
            sel = match if kind == "match" else [o for o in self.ops if o["kind"] == kind]
            put(f"trace.coverage.{kind}", _med(self.coverage(o) for o in sel), "ratio")
        for kind in ("match", "phrase", "msearch", "first_seen", "freshness", "compact",
                     "final_check"):
            kinds = MATCH_KINDS if kind == "match" else (kind,)
            put(f"ops.{kind}.attempted", sum(self.tally.get(k, (0, 0))[0] for k in kinds), "count")
            put(f"ops.{kind}.failed", sum(self.tally.get(k, (0, 0))[1] for k in kinds), "count")
        put("trace.spark_cpus", bench.cpus, "count")
        # CPU time the hypervisor gave other guests while this VM wanted
        # it, as a share of all CPU time since the session started: a
        # noisy-neighbour gauge for reading the run's timings
        d = [b - a for a, b in zip(self.cpu0, _cpu_times())]
        put("host.cpu_steal_share", d[7] / sum(d) if len(d) > 7 and sum(d) else 0, "ratio")
        self._dump(bench, out)
        return out

    def _dump(self, bench, metrics: dict) -> None:
        out_dir = os.path.join(bench.root, ".servebench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{bench.workload}-{bench.seed}.json")
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops,
                       "metrics": {k: v for k, (v, _u) in metrics.items()}}, f)
