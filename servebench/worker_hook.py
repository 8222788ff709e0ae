"""Python-worker daemon module for traced runs.

Set as ``spark.python.daemon.module``: it installs an import hook, then
runs PySpark's own daemon, which forks every worker from this process.
The engine is not imported here: a worker imports it when a task first
needs it, exactly as in an untraced run (importing it before the fork
would change per-task worker cost). When a worker imports
``query.phrase``, the hook wraps the functions below; each call appends
(wall start, wall end, name, count) to a per-process file under
$SERVEBENCH_TRACE_DIR, which the driver attributes to ops by time (ops
run one at a time):

- ``positions``: position payloads decoded by the phrase verifier,
  counted in position values
- ``positional``: time in the phrase verifier's per-term postings
  (batch decode of doc ids/tfs/dls, position decode, chain probes)
"""

import functools
import importlib.abc
import importlib.util
import os
import sys
import time

TARGET = "go_mysql_elasticsearch_spark.query.phrase"
_DIR = os.environ.get("SERVEBENCH_TRACE_DIR")


def _record(name: str, t0: float, t1: float, n: int) -> None:
    with open(os.path.join(_DIR, f"{os.getpid()}.tsv"), "a") as f:
        f.write(f"{t0}\t{t1}\t{name}\t{n}\n")


def _install(phrase) -> None:
    def wrap(owner, attr, names, count):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            t0 = time.time()
            out = orig(*a, **kw)
            t1 = time.time()
            for name in names:
                _record(name, t0, t1, count(out) if name == "positions" else 0)
            return out

        setattr(owner, attr, traced)

    wrap(phrase, "unpack_positions_batch", ("positions", "positional"), lambda out: len(out[0]))
    wrap(phrase._TidPostings, "__init__", ("positional",), None)
    wrap(phrase, "_in_sorted", ("positional",), None)


class _PhraseHook(importlib.abc.MetaPathFinder):
    """One-shot finder: loads TARGET normally, then wraps it."""

    def find_spec(self, name, path, target=None):
        if name != TARGET:
            return None
        sys.meta_path.remove(self)
        spec = importlib.util.find_spec(name)
        load = spec.loader.exec_module

        def exec_module(module):
            load(module)
            _install(module)

        spec.loader.exec_module = exec_module
        return spec


if __name__ == "__main__":
    if _DIR:
        sys.meta_path.insert(0, _PhraseHook())
    from pyspark import daemon

    daemon.manager()
