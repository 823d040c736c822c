"""Contracts around round-8 performance machinery: scoped replay
shuffle width and snapshot-keyed index persistence. These are the
behaviors that would regress silently (a leaked conf override or a
stale index serve wrong-but-plausible results later)."""

from __future__ import annotations

import os
import shutil

from monday_etl_automation_spark.plans.embed_ops import (
    _ann_bucket_index,
    _train_ivf,
)
from monday_etl_automation_spark.sources.tables import register_views
from monday_etl_automation_spark.streaming.pipeline import (
    _REPLAY_SHUFFLE_PARTITIONS,
    run_replay,
)


def test_replay_restores_session_shuffle_partitions(spark, sf_dir):
    """The replay-scoped width override must never leak into the
    session: later batch queries would silently run at the replay
    width (wrong parallelism for corpus-scale shuffles)."""
    original = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "23")
    try:
        run_replay(spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "23"
    finally:
        # restore what the SESSION had, not a hardcoded width — this
        # test must not itself commit the conf-leak it polices
        spark.conf.set("spark.sql.shuffle.partitions", original)
    assert _REPLAY_SHUFFLE_PARTITIONS < 23  # the override actually overrides


def test_persisted_indexes_memoize_and_invalidate(spark, sf_dir, tmp_path):
    """ANN bucket index and IVF assignment are cached per (session,
    data snapshot) and must (a) return the same relation while the
    snapshot is unchanged, (b) rebuild when the file changes — a stale
    index would serve assignments for vanished vectors."""
    work = tmp_path / "snap"
    work.mkdir()
    for t in ("embeddings", "documents"):
        shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), work / f"{t}.parquet")
    # register_views requires the full table set; point the cache key
    # dir at the copy but register views from the real sf_dir
    register_views(spark, sf_dir)
    a1 = _ann_bucket_index(spark, str(work))
    a2 = _ann_bucket_index(spark, str(work))
    assert a1 is a2, "unchanged snapshot must hit the cache"
    assert isinstance(a1, tuple) and isinstance(a1[1], int)  # (index, modulus) travel together
    i1 = _train_ivf(spark, str(work))
    assert _train_ivf(spark, str(work)) is i1
    # content-identical rewrite still changes (mtime, size) key
    emb = work / "embeddings.parquet"
    data = emb.read_bytes()
    emb.write_bytes(data)
    os.utime(emb, ns=(os.stat(emb).st_mtime_ns + 1_000_000, os.stat(emb).st_mtime_ns + 1_000_000))
    a3 = _ann_bucket_index(spark, str(work))
    assert a3 is not a1, "changed snapshot must rebuild the index"


def test_driver_heap_default_fits_the_host(monkeypatch):
    """Local mode runs every executor inside the driver JVM, so the
    default heap must fit the host's physical memory (a fixed 48g
    default let the JVM grow until a 15 GB host killed it);
    SPARK_GRAFT_DRIVER_MEM still overrides the default."""
    from monday_etl_automation_spark.session import _driver_memory

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    heap_mb = int(_driver_memory().removesuffix("m"))
    phys_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    assert 0 < heap_mb <= min(48 * 1024, phys_mb)


def test_core_count_defaults_to_usable_cores():
    """With no ``SPARK_GRAFT_CPUS`` a session runs on the cores this
    process may use, whichever tool or test starts it; the variable
    still wins when set."""
    import subprocess
    import sys

    import monday_etl_automation_spark

    root = os.path.dirname(os.path.dirname(monday_etl_automation_spark.__file__))
    script = "from monday_etl_automation_spark.session import _cpus; print(_cpus())"

    def cpus(**extra) -> int:
        env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
        env.update(extra)
        out = subprocess.run(
            [sys.executable, "-c", script], cwd=root, env=env, capture_output=True, text=True, timeout=60
        )
        assert out.returncode == 0, out.stderr[-2000:]
        return int(out.stdout)

    assert cpus() == len(os.sched_getaffinity(0))
    assert cpus(SPARK_GRAFT_CPUS="3") == 3


def test_package_import_loads_no_pyspark():
    """Workers start as ``python -m monday_etl_automation_spark.pydaemon``,
    which runs the package's ``__init__`` first: a pyspark imported
    there would come from Spark's zip archives, before the daemon can
    put the installed pyspark ahead of them."""
    import subprocess
    import sys

    import monday_etl_automation_spark

    root = os.path.dirname(os.path.dirname(monday_etl_automation_spark.__file__))
    script = (
        "import sys\n"
        "import monday_etl_automation_spark.pydaemon\n"
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=root, capture_output=True, text=True, timeout=60)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip() == "[]"


def test_udf_workers_import_the_package_from_any_cwd(tmp_path):
    """A Python UDF worker imports this package, so a session started
    from another working directory, with the package reachable only
    through ``sys.path``, must still run one. Its workers start through
    ``pydaemon``: they import the driver's (installed) pyspark, and no
    zip or jar importer is left for pyspark's per-task
    ``importlib.invalidate_caches()`` to re-read."""
    import json
    import pathlib
    import subprocess
    import sys

    import monday_etl_automation_spark

    root = pathlib.Path(monday_etl_automation_spark.__file__).parent.parent
    script = (
        "import json, sys\n"
        f"sys.path.insert(0, {str(root)!r})\n"
        "import pyspark\n"
        "from monday_etl_automation_spark.functions.scalar import unaccent_py\n"
        "from monday_etl_automation_spark.session import get_spark\n"
        "spark = get_spark('udf_cwd_probe')\n"
        "df = spark.createDataFrame([('\\u00c9lan',)], 's STRING')\n"
        "print(df.select(unaccent_py('s')).first()[0])\n"
        "def state(batches):\n"
        "    import zipimport\n"
        "    import pandas as pd\n"
        "    import pyspark as worker_pyspark\n"
        "    for _ in batches:\n"
        "        pass\n"
        "    zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]\n"
        "    jars = [p for p in sys.path if p.endswith('.jar')]\n"
        "    yield pd.DataFrame({'s': [json.dumps([worker_pyspark.__file__, zips, jars])]})\n"
        "worker = json.loads(spark.range(1).mapInPandas(state, 's STRING').first()[0])\n"
        "print(json.dumps([pyspark.__file__, *worker]))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    assert lines[-2] == "Elan"
    driver_pyspark, worker_pyspark, zips, jars = json.loads(lines[-1])
    assert worker_pyspark == driver_pyspark
    assert zips == []
    assert jars == []
