"""Interpreter-startup bootstrap for Python workers (see compat/pbshim.py).

This directory is appended to PYTHONPATH by ``pbshim.ensure_protobuf()`` so
that every Python process the Spark JVM forks (pyspark.daemon / workers /
the transformWithState driver worker) runs the protobuf bootstrap before
any pyspark generated proto imports, and installs ``compat/zipcache.py``
(PySpark's per-task ``importlib.invalidate_caches()`` stops re-reading
unchanged zip archives). The stdlib ``site`` module imports
``sitecustomize`` from ``sys.path`` at startup; failures here must never
break an interpreter, hence the blanket guards."""

try:
    import importlib.util
    import os

    def _load(filename):
        # Load a compat module by FILE PATH, not as gridmr_spark.compat.*: the
        # package __init__ imports pyspark, which has no business running at
        # interpreter startup of every forked worker.
        compat_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.path.join(compat_dir, filename)
        spec = importlib.util.spec_from_file_location("_gridmr_" + filename[:-3], path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    try:
        _load("pbshim.py")._bootstrap_current_process()
    except Exception:  # pragma: no cover - never break interpreter startup
        pass
    try:
        _load("zipcache.py").install()
    except Exception:  # pragma: no cover - never break interpreter startup
        pass
except Exception:  # pragma: no cover - never break interpreter startup
    pass
