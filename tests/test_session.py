"""Session defaults: the lean Python worker path and scan-split sizing."""

from __future__ import annotations

import os
import random
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from webextract_daemon import prune_worker_path


def test_python_tasks_import_without_archives(spark):
    def worker_imports(batches):  # nested: pickled by value for the workers
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            pass
        archives = [
            p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)
        ]
        zipimporters = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        yield pa.RecordBatch.from_pydict(
            {
                "archives": [archives],
                "zipimporters": [zipimporters],
                "pyspark": [pyspark.__file__],
            }
        )

    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInArrow(
            worker_imports, "archives array<string>, zipimporters long, pyspark string"
        )
        .collect()
    )
    assert len(rows) == 8
    for r in rows:
        assert r.archives == []
        assert r.zipimporters == 0
        assert os.path.isfile(r.pyspark)


def _touch(path, members=()):
    with zipfile.ZipFile(path, "w") as zf:
        for m in members:
            zf.writestr(m, "")
    return str(path)


def _spark_like_path(tmp_path, plain_packages):
    plain = tmp_path / "site-packages"
    for pkg in plain_packages:
        (plain / pkg).mkdir(parents=True)
        (plain / pkg / "__init__.py").write_text("")
    return [
        str(tmp_path / "cwd"),
        _touch(tmp_path / "pyspark.zip", ["pyspark/__init__.py"]),
        _touch(tmp_path / "py4j-0.10.9.9-src.zip", ["py4j/__init__.py"]),
        _touch(tmp_path / "spark-core_2.13-4.1.2.jar", ["org/Foo.class"]),
        _touch(tmp_path / "user.zip", ["mod.py"]),
        _touch(tmp_path / "user.jar"),
        str(plain),
    ]


def test_prune_drops_spark_archives_when_directory_install_covers_them(tmp_path):
    path = _spark_like_path(tmp_path, ["pyspark", "py4j"])
    assert prune_worker_path(path) == [path[0], path[4], path[5], path[6]]


def test_prune_keeps_zips_when_pyspark_only_in_zip(tmp_path):
    path = _spark_like_path(tmp_path, ["py4j"])
    assert prune_worker_path(path) == path[:3] + path[4:]


def _write_blobs(path, rows, row_group_rows, seed):
    rnd = random.Random(seed)
    table = pa.table({"blob": [rnd.randbytes(1250) for _ in range(rows)]})
    pq.write_table(table, path, row_group_size=row_group_rows, compression="none")


def _nonempty_partitions(df):
    return df.groupBy(F.spark_partition_id()).count().count()


def test_small_single_file_scans_one_split_per_core(spark, tmp_path):
    f = tmp_path / "one" / "part.parquet"
    f.parent.mkdir()
    _write_blobs(f, 4000, 100, seed=1)  # ~5 MB, 40 row groups
    assert 4.5e6 < os.path.getsize(f) < 5.5e6
    df = spark.read.parquet(str(f.parent))
    assert df.rdd.getNumPartitions() >= 4
    assert _nonempty_partitions(df) >= 4


def test_small_files_still_pack_one_split_per_core(spark, tmp_path):
    d = tmp_path / "eight"
    d.mkdir()
    for i in range(8):
        _write_blobs(d / f"part-{i}.parquet", 240, 240, seed=i)  # ~300 KB
    df = spark.read.parquet(str(d))
    assert df.rdd.getNumPartitions() == 4
    assert _nonempty_partitions(df) == 4


def test_daemon_module_set_only_where_the_daemon_can_import_it(tmp_path, monkeypatch):
    import webextract_daemon
    from webextract.session import _lean_daemon_available

    root = os.path.dirname(os.path.abspath(webextract_daemon.__file__))
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(root)
    assert _lean_daemon_available("local[4]")
    assert _lean_daemon_available("local")
    assert not _lean_daemon_available("local-cluster[2,1,1024]")
    assert not _lean_daemon_available("spark://host:7077")
    monkeypatch.chdir(tmp_path)
    assert not _lean_daemon_available("local[4]")
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert _lean_daemon_available("local[4]")
