"""Span recorder for the Python workers of a traced benchmark run.

A traced run puts this directory on the JVM's ``PYTHONPATH`` and names a
directory in ``HBENCH_WORKER_SPANS``; every Python worker then imports this
module at start-up. It wraps the ``hielo_spark`` functions that run in
workers rather than in the Spark driver (the DataSource reader's planning
and writer's commit, the pure-Python commit plane and the Avro codec) as
their modules load, and appends one JSON line ``[name, start, end]``
(epoch seconds) per call to ``<pid>.jsonl`` in that directory. The
benchmark process joins the lines to ops by time. Without the variable
the module does nothing.
"""

import os

_DIR = os.environ.get("HBENCH_WORKER_SPANS")

# module → {attribute (dotted for a method): span name}
WORKER_TARGETS = {
    "hielo_spark.metadata.avro_py": {
        "read_avro_file": "avro_py.read_avro_file",
        "write_avro_file": "avro_py.write_avro_file",
    },
    "hielo_spark.metadata.commit_py": {"append_files": "commit_py.append_files"},
    "hielo_spark.sources.iceberg_source": {
        "HieloIcebergReader.partitions": "sources.read.plan",
        "HieloIcebergWriter.commit": "sources.write.commit",
    },
}

if _DIR:
    import functools
    import importlib.abc
    import json
    import sys
    import time

    def _wrap(fn, name):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                line = json.dumps([name, t0, time.time()])
                with open(os.path.join(_DIR, f"{os.getpid()}.jsonl"), "a") as f:
                    f.write(line + "\n")
        return wrapper

    class _WrapLoader(importlib.abc.Loader):
        def __init__(self, inner, attrs):
            self.inner, self.attrs = inner, attrs

        def create_module(self, spec):
            return self.inner.create_module(spec)

        def exec_module(self, module):
            self.inner.exec_module(module)
            for attr, name in self.attrs.items():
                owner, leaf = module, attr
                if "." in attr:
                    cls, leaf = attr.split(".")
                    owner = getattr(module, cls)
                setattr(owner, leaf, _wrap(getattr(owner, leaf), name))

    class _Finder(importlib.abc.MetaPathFinder):
        def find_spec(self, fullname, path, target=None):
            attrs = WORKER_TARGETS.get(fullname)
            if attrs is None:
                return None
            for finder in sys.meta_path:
                if finder is self or not hasattr(finder, "find_spec"):
                    continue
                spec = finder.find_spec(fullname, path, target)
                if spec is not None and spec.loader is not None:
                    spec.loader = _WrapLoader(spec.loader, attrs)
                    return spec
            return None

    sys.meta_path.insert(0, _Finder())
