"""What a Python worker sees when the library's passes run in it.

* After a library pass, the worker holds no cached zip-archive finder for
  Spark's own archives (``pyspark.zip``, the py4j zip, the spark-core jar),
  so the next task's ``importlib.invalidate_caches()`` re-reads none of
  them; an archive shipped with ``addPyFile`` stays importable.
* ``get_spark`` puts the package on the workers' path, so a script that
  imports it through ``sys.path`` from another directory runs its passes.
"""

import os
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

from nested_pandas_spark.operators.map_rows import map_rows

REPO = Path(__file__).resolve().parents[1]


def test_no_spark_archive_finder_survives_a_pass(spark, tmp_path):
    # both functions are local so they ship by value: unpickling them in a
    # worker imports nothing new (no module lookup re-creates a finder)
    def pid(_x):
        import os

        return os.getpid()

    def probe(batches):
        """Per task: its worker pid and the zip finders it holds for
        archives not shipped with ``addPyFile``."""
        import os
        import sys
        import zipimport

        import pyarrow as pa
        from pyspark import SparkFiles

        shipped = os.path.join(SparkFiles.getRootDirectory(), "")
        held = sorted(
            f.archive + "/" + f.prefix
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
            and not f.archive.startswith(shipped)
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()], "held": [held]})

    df = spark.range(0, 64, 1, 16)
    # A worker's first task may import a module after the helper ran, which
    # re-creates root finders; its next task drops them again. So probe
    # only workers that ran a task in each of two passes.
    ran = [
        {r.pid for r in map_rows(df, pid, ["id"], output_schema="pid long").collect()}
        for _ in range(2)
    ]
    probed = df.mapInArrow(probe, "pid long, held array<string>").collect()
    after_pass = [r for r in probed if r.pid in ran[0] & ran[1]]
    assert after_pass, (ran, [r.pid for r in probed])
    assert all(r.held == [] for r in after_pass), [(r.pid, r.held) for r in probed]

    # an archive shipped after that pass is still importable in a later one
    mod = f"shipped_{os.getpid()}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    def shipped_value(_x):
        import importlib

        return importlib.import_module(mod).VALUE

    for _ in range(2):
        got = map_rows(df, shipped_value, ["id"], output_schema="v long")
        assert {r.v for r in got.collect()} == {42}


def test_workers_import_the_package_from_another_cwd(tmp_path):
    script = tmp_path / "run.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        import numpy as np
        from nested_pandas_spark import get_spark, nest_cum
        from nested_pandas_spark.operators.map_rows import map_rows

        spark = get_spark(cpus=2)
        df = spark.createDataFrame(
            [(0, [(0.0, 1.0), (1.0, 2.0)]), (1, [(0.0, 5.0)])],
            "id long, lc array<struct<t: double, f: double>>")
        means = map_rows(df, lambda f: float(np.mean(f)), ["lc.f"],
                         output_names=["m"], append_columns=True)
        print("MEANS", sorted((r.id, r.m) for r in means.collect()))
        cum = nest_cum(df, "lc", "f")
        print("CUM", sorted((r.id, [e.f_cumsum for e in r.lc]) for r in cum.collect()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "MEANS [(0, 1.5), (1, 5.0)]" in proc.stdout, proc.stdout
    assert "CUM [(0, [1.0, 3.0]), (1, [5.0])]" in proc.stdout, proc.stdout
