"""The Python worker daemon of local sessions (``_pydaemon.py``): its
stat-guarded ``zipimporter.invalidate_caches`` must skip unchanged
archives yet re-read rewritten ones, and a ``get_spark()`` session that
runs it must still import ``addPyFile`` archives and return the same
rows from ``pandas_udf`` and executor-side DataJud pagination."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from jurimetria_etl_spark import _pydaemon

T0_NS = 1_700_000_000 * 10**9


def _write_zip(path: str, modules: dict[str, str], mtime_ns: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.utime(path, ns=(mtime_ns, mtime_ns))


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the guard is installed below 3.12"
)
def test_guard_skips_unchanged_archive_and_rereads_rewritten(
    tmp_path, monkeypatch
):
    tag = uuid.uuid4().hex[:8]
    mod_a, mod_b = f"pd_a_{tag}", f"pd_b_{tag}"
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {mod_a: "VALUE = 1\n"}, T0_NS)

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _pydaemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(mod_a).VALUE == 1
    importlib.invalidate_caches()  # the first guarded refresh reads once
    reads.clear()
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads == []  # unchanged archive: never re-read
    importer = sys.path_importer_cache[archive]
    _pydaemon._stock(importer)  # the stock refresh re-reads every time
    assert len(reads) == 1

    _write_zip(
        archive, {mod_a: "VALUE = 1\n", mod_b: "VALUE = 2\n"}, T0_NS + 10**9
    )
    importlib.invalidate_caches()
    assert len(reads) == 2  # rewritten archive: re-read once
    assert importlib.import_module(mod_b).VALUE == 2
    importlib.invalidate_caches()
    assert len(reads) == 2
    for m in (mod_a, mod_b):
        sys.modules.pop(m, None)


def test_get_spark_runs_workers_under_the_daemon_module(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == (
        "jurimetria_etl_spark._pydaemon"
    )


def test_add_py_file_mid_session_imports_in_next_task(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 2).map(lambda x: x).count() == 4
    name = f"pd_added_{uuid.uuid4().hex[:8]}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "VALUE = 42\n"}, T0_NS)
    sc.addPyFile(archive)
    got = (
        sc.parallelize(range(4), 2)
        .map(lambda _: importlib.import_module(name).VALUE)
        .collect()
    )
    assert got == [42] * 4


def test_pandas_udf_rows_unchanged(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def times3(s):
        return s * 3

    df = spark.range(0, 50, numPartitions=3)
    got = sorted(r[0] for r in df.select(times3("id")).collect())
    assert got == [3 * i for i in range(50)]


def _two_page_transport():
    """Two pages of three hits per tribunal, keyed by ``search_after``;
    self-contained so cloudpickle ships it by value to the workers."""

    def transport(url, headers, payload):
        trib = url.split("api_publica_")[1].split("/")[0].upper()
        page = {(): 0, (3,): 1}.get(tuple(payload.get("search_after", ())))
        if page is None:
            return 200, {"hits": {"hits": []}}
        hits = [
            {
                "_source": {
                    "numeroProcesso": f"{trib}-{i:04d}",
                    "classe": {"codigo": 12729, "nome": "ANPP"},
                    "dataAjuizamento": f"2023-01-{10 + i:02d}T12:00:00Z",
                },
                "sort": [i + 1],
            }
            for i in range(3 * page, 3 * page + 3)
        ]
        return 200, {"hits": {"hits": hits}}

    return transport


def test_parallel_scan_rows_match_the_driver_fetch(spark):
    from jurimetria_etl_spark.sources.datajud import (
        DataJudSource,
        fetch_raw_hits,
    )

    transport = _two_page_transport()
    tribs = ["TJCE", "TJSP", "TJRJ"]
    src = DataJudSource(spark, transport=transport)
    got = sorted(
        (r["tribunal"], r["hit"]["_source"]["numeroProcesso"])
        for r in src.parallel_scan(tribs).collect()
    )
    want = sorted(
        (t, h["_source"]["numeroProcesso"])
        for t in tribs
        for h in fetch_raw_hits(
            t, None, None, src.page_size, src.max_requests, transport, src.api_key
        )
    )
    assert got == want and len(got) == 18
