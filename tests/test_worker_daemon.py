"""The Python worker daemon (``sketchy_spark.worker_daemon``): tasks run
with the targeted import refresh, ``addPyFile`` still works on reused
workers, and the upstream call site the daemon replaces is pinned."""

import json
import os
import subprocess
import sys
import textwrap
import uuid
from pathlib import Path

from sketchy_spark import worker_daemon

REPO = Path(__file__).resolve().parent.parent


def test_tasks_run_with_the_targeted_importlib(spark):
    """Inside a task, worker_util's importlib is the stand-in; the daemon
    conf is what get_spark set."""

    def probe(_):
        from pyspark import worker_util

        from sketchy_spark import worker_daemon as wd

        yield isinstance(worker_util.importlib, wd.TargetedImportlib)

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == (
        "sketchy_spark.worker_daemon"
    )
    got = sc.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert got == [True] * 4


def test_upstream_setup_spark_files_still_adds_paths_and_invalidates(spark):
    """The daemon replaces the blanket refresh inside
    pyspark.worker_util.setup_spark_files and reads the SparkFiles root
    that function stores. Pin both in the worker's copy of pyspark, so
    an upgrade that moves them fails here instead of silently bringing
    the per-task cost back (or narrowing the refresh to a stale root)."""

    def source(_):
        import inspect

        from pyspark import worker_util

        yield worker_util.__file__, inspect.getsource(
            worker_util.setup_spark_files
        )

    path, src = spark.sparkContext.parallelize([0], 1).mapPartitions(
        source
    ).collect()[0]
    assert "SparkFiles._root_directory = spark_files_dir" in src, path
    assert "add_path(spark_files_dir)" in src, path
    assert "add_path(os.path.join(spark_files_dir, filename))" in src, path
    assert "importlib.invalidate_caches()" in src, path


def test_add_py_file_modules_import_on_reused_workers(spark, tmp_path):
    """Two .py modules added with addPyFile between jobs import in the
    next job's tasks, on workers that ran tasks before either arrived."""
    tag = uuid.uuid4().hex[:8]
    names = [f"sketchy_pyfile_a_{tag}", f"sketchy_pyfile_b_{tag}"]
    for i, name in enumerate(names):
        (tmp_path / f"{name}.py").write_text(f"VALUE = {i + 1}\n")
    sc = spark.sparkContext

    def importing(mods):
        def run(_):
            import importlib
            import os

            values = []
            for m in mods:
                try:
                    values.append(importlib.import_module(m).VALUE)
                except ImportError:
                    values.append(None)
            yield os.getpid(), tuple(values)

        return run

    def job(mods):
        return sc.parallelize(range(8), 8).mapPartitions(
            importing(mods)
        ).collect()

    # workers look both names up (and miss) before any file is added
    warm = job(names)
    assert {v for _, v in warm} == {(None, None)}
    sc.addPyFile(str(tmp_path / f"{names[0]}.py"))
    first = job(names)
    assert {v for _, v in first} == {(1, None)}
    sc.addPyFile(str(tmp_path / f"{names[1]}.py"))
    second = job(names)
    assert {v for _, v in second} == {(1, 2)}
    # the daemon reuses its forked workers across jobs
    pids = [{p for p, _ in r} for r in (warm, first, second)]
    assert pids[0] & pids[1] & pids[2], pids


class _CountingFinder:
    def __init__(self):
        self.refreshed = 0

    def invalidate_caches(self):
        self.refreshed += 1


def test_refresh_touches_only_the_spark_files_root(monkeypatch, tmp_path):
    """invalidate_caches() refreshes the path finders keyed at or under
    the SparkFiles root and leaves every other path finder alone; as
    upstream, it refreshes the other meta path finders and drops every
    negative (None) and relative-path entry. With no root recorded it is
    upstream's refresh."""
    from pyspark.core.files import SparkFiles

    root = str(tmp_path / "files")
    keys = {
        "root": root,
        "zip": os.path.join(root, "lib.zip"),
        "zip_pkg": os.path.join(root, "lib.zip", "pkg"),
        "sibling": root + "-other",
        "elsewhere": str(tmp_path / "elsewhere"),
    }
    finders = {k: _CountingFinder() for k in keys}
    cache = dict(sys.path_importer_cache)
    cache.update({keys[k]: f for k, f in finders.items()})
    negatives = [os.path.join(root, "later.zip"), str(tmp_path / "gone")]
    for key in negatives:
        cache[key] = None
    cache["relative/dir"] = _CountingFinder()
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    meta = _CountingFinder()
    monkeypatch.setattr(sys, "meta_path", [meta] + sys.meta_path)

    monkeypatch.setattr(SparkFiles, "_root_directory", root)
    worker_daemon.TargetedImportlib().invalidate_caches()
    assert meta.refreshed == 1
    assert {k: f.refreshed for k, f in finders.items()} == {
        "root": 1, "zip": 1, "zip_pkg": 1, "sibling": 0, "elsewhere": 0,
    }
    assert not set(negatives + ["relative/dir"]) & set(cache)

    monkeypatch.setattr(SparkFiles, "_root_directory", None)
    worker_daemon.TargetedImportlib().invalidate_caches()
    assert {k: f.refreshed for k, f in finders.items()} == {
        "root": 2, "zip": 2, "zip_pkg": 2, "sibling": 1, "elsewhere": 1,
    }


def _keep_mtime(directory, write):
    """Run ``write`` and restore ``directory``'s mtime, as a
    coarse-mtime filesystem would leave it."""
    st = os.stat(directory)
    write()
    os.utime(directory, ns=(st.st_atime_ns, st.st_mtime_ns))


def test_refresh_finds_a_module_an_unchanged_mtime_hides(
    monkeypatch, tmp_path
):
    """Why the SparkFiles root still needs a refresh: a path finder
    re-lists its directory only when the directory's mtime changes, and
    a file can arrive without changing it (coarse-mtime filesystems).
    After the refresh the new module imports."""
    import importlib

    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(
        sys, "path_importer_cache", dict(sys.path_importer_cache)
    )
    root = tmp_path / "files"
    root.mkdir()
    sys.path.insert(1, str(root))
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    name = f"sketchy_late_{uuid.uuid4().hex[:8]}"
    assert importlib.util.find_spec(name) is None  # lists the empty dir
    _keep_mtime(
        root, lambda: (root / f"{name}.py").write_text("VALUE = 7\n")
    )
    assert importlib.util.find_spec(name) is None  # stale listing
    worker_daemon.TargetedImportlib().invalidate_caches()
    try:
        assert importlib.import_module(name).VALUE == 7
    finally:
        sys.modules.pop(name, None)


def test_refresh_recomputes_namespace_package_paths(monkeypatch, tmp_path):
    """A namespace-package portion that appears under the SparkFiles
    root after the package was imported (sc.addFile of a directory, an
    extracted archive), with sys.path unchanged, imports after the
    refresh: as upstream, the refresh makes namespace packages recompute
    their __path__."""
    import importlib

    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(
        sys, "path_importer_cache", dict(sys.path_importer_cache)
    )
    ns = f"sketchy_ns_{uuid.uuid4().hex[:8]}"
    elsewhere = tmp_path / "elsewhere"
    (elsewhere / ns).mkdir(parents=True)
    (elsewhere / ns / "a.py").write_text("VALUE = 1\n")
    root = tmp_path / "files"
    root.mkdir()
    sys.path[1:1] = [str(root), str(elsewhere)]
    monkeypatch.setattr(SparkFiles, "_root_directory", str(root))
    try:
        assert importlib.import_module(f"{ns}.a").VALUE == 1

        def portion():
            (root / ns).mkdir()
            (root / ns / "b.py").write_text("VALUE = 2\n")

        _keep_mtime(root, portion)
        worker_daemon.TargetedImportlib().invalidate_caches()
        assert importlib.import_module(f"{ns}.b").VALUE == 2
    finally:
        for m in (ns, f"{ns}.a", f"{ns}.b"):
            sys.modules.pop(m, None)


_CLUSTER_SCRIPT = textwrap.dedent(
    """
    import json, os, shutil
    from sketchy_spark.config import SketchConfig
    from sketchy_spark.corpus import corpus_df
    from sketchy_spark.operators.sketch import sketch_files
    from sketchy_spark.session import get_spark

    spark = get_spark(
        "worker-daemon-cluster", master="local-cluster[2,1,1024]",
        shuffle_partitions=4,
        extra_conf={"spark.executor.memory": "768m",
                    "spark.driver.memory": "1g",
                    # start jobs only once both executors registered
                    "spark.scheduler.minRegisteredResourcesRatio": "1.0"},
    )
    sc = spark.sparkContext

    def probe(_):
        import os
        from pyspark import worker_util
        from sketchy_spark import worker_daemon as wd

        # an executor's working directory is named after its id
        yield (os.path.basename(os.getcwd()),
               isinstance(worker_util.importlib, wd.TargetedImportlib))

    try:
        sketched = sketch_files(corpus_df(spark, 40, partitions=4),
                                SketchConfig()).count()
        seen = sc.parallelize(range(8), 8).mapPartitions(probe).collect()
        print("RESULT " + json.dumps({"sketched": sketched, "seen": seen}))
    finally:
        app = sc.applicationId
        spark.stop()
        # local-cluster executors work under $SPARK_HOME/work/<app id>
        home = os.environ.get("SPARK_HOME")
        if home:
            shutil.rmtree(os.path.join(home, "work", app),
                          ignore_errors=True)
    """
)


def test_local_cluster_executors_run_the_stand_in():
    """Under local-cluster (separate executor JVMs, as bench.py
    --scaling runs) executor workers import the daemon module through
    spark.executorEnv.PYTHONPATH and run the stand-in; the sketch stage
    counts every row."""
    env = dict(os.environ)
    env["PYTHONPATH"] = str(REPO) + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, "-c", _CLUSTER_SCRIPT], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=150,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    result = json.loads(lines[-1][len("RESULT "):])
    assert result["sketched"] == 40
    assert all(ok for _, ok in result["seen"]), result["seen"]
    assert len({executor for executor, _ in result["seen"]}) == 2, result
