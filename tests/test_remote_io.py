"""Remote-filesystem parquet reads (http staging + s3a guidance).

Matches the reference's remote-I/O surface (reference ``io.py:36-212`` takes
fsspec URIs; its e2e test reads remote ZTF parquet over HTTPS) without
needing network: a local http.server stands in for the remote store.
"""

import http.server
import os
import threading

import pytest

from nested_pandas_spark.nestedframe.io import read_parquet, stage_remote
from nested_pandas_spark.plans.inspect import find_nodes


class _CountingHandler(http.server.SimpleHTTPRequestHandler):
    hits = {}

    def log_message(self, *a):  # silence request logging
        pass

    def do_GET(self):
        _CountingHandler.hits[self.path] = _CountingHandler.hits.get(self.path, 0) + 1
        super().do_GET()


@pytest.fixture(scope="module")
def http_store(spark, objects, tmp_path_factory):
    root = tmp_path_factory.mktemp("remote_store")
    # single-file parquet so one GET serves the whole dataset
    objects.coalesce(1).write.mode("overwrite").parquet(str(root / "obj_dir"))
    part = next(p for p in os.listdir(root / "obj_dir") if p.endswith(".parquet"))
    os.rename(root / "obj_dir" / part, root / "objects.parquet")

    handler = lambda *a, **kw: _CountingHandler(*a, directory=str(root), **kw)  # noqa: E731
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_read_parquet_over_http(spark, objects, http_store, tmp_path):
    url = f"{http_store}/objects.parquet"
    df = read_parquet(spark, url, cache_dir=str(tmp_path))
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, objects.collect()))


def test_http_staging_is_cached(spark, http_store, tmp_path):
    url = f"{http_store}/objects.parquet"
    _CountingHandler.hits.clear()
    read_parquet(spark, url, cache_dir=str(tmp_path)).count()
    read_parquet(spark, url, cache_dir=str(tmp_path)).count()
    assert _CountingHandler.hits.get("/objects.parquet") == 1


def test_stage_remote_rejects_unreachable_scheme(tmp_path, monkeypatch):
    import builtins

    real_import = builtins.__import__

    def no_fsspec(name, *a, **kw):
        if name == "fsspec":
            raise ImportError("fsspec not installed")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", no_fsspec)
    with pytest.raises(RuntimeError, match="fsspec|Hadoop"):
        stage_remote("s3://bucket/key.parquet", cache_dir=str(tmp_path))


def test_s3a_error_mentions_hadoop_aws(spark):
    with pytest.raises(RuntimeError, match="hadoop-aws"):
        read_parquet(spark, "s3a://some-bucket/data.parquet")


class _RangeHandler(http.server.SimpleHTTPRequestHandler):
    """SimpleHTTPRequestHandler + RFC 7233 single-range GET (stdlib's
    handler ignores Range and returns the full body, which would defeat
    the byte-range staging under test)."""

    def log_message(self, *a):
        pass

    def send_head(self):
        rng = self.headers.get("Range")
        if rng is None or not rng.startswith("bytes="):
            return super().send_head()
        path = self.translate_path(self.path)
        try:
            f = open(path, "rb")
        except OSError:
            self.send_error(404)
            return None
        size = os.fstat(f.fileno()).st_size
        start_s, _, end_s = rng[len("bytes="):].partition("-")
        start = int(start_s)
        end = min(int(end_s) if end_s else size - 1, size - 1)
        self.send_response(206)
        self.send_header("Content-Type", "application/octet-stream")
        self.send_header("Content-Range", f"bytes {start}-{end}/{size}")
        self.send_header("Content-Length", str(end - start + 1))
        self.end_headers()
        f.seek(start)
        data = f.read(end - start + 1)
        f.close()
        import io as _io

        return _io.BytesIO(data)


@pytest.fixture(scope="module")
def range_store(spark, tmp_path_factory):
    import hashlib

    root = tmp_path_factory.mktemp("range_store")
    # wide table: a fat, incompressible payload column and a narrow id
    # column, single file (pyarrow's footer read is 64 KiB — the payload
    # chunk must dwarf it for the pruning to be measurable)
    rows = [
        (i, "".join(hashlib.sha256(f"{i}:{j}".encode()).hexdigest()
                    for j in range(8)))
        for i in range(4000)
    ]
    wide = spark.createDataFrame(rows, "id long, payload string")
    wide.coalesce(1).write.mode("overwrite").parquet(str(root / "wide_dir"))
    part = next(p for p in os.listdir(root / "wide_dir") if p.endswith(".parquet"))
    os.rename(root / "wide_dir" / part, root / "wide.parquet")

    handler = lambda *a, **kw: _RangeHandler(*a, directory=str(root), **kw)  # noqa: E731
    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_column_staging_fetches_byte_ranges_only(spark, range_store, tmp_path):
    """The reference fetches only footer + selected column chunks for a
    remote read with columns= (reference io.py:248-255); our staged path
    must transfer a fraction of the file when pruning a wide file to a
    narrow column."""
    from nested_pandas_spark.nestedframe.io import STAGE_STATS

    url = f"{range_store}/wide.parquet"
    df = read_parquet(spark, url, columns=["id"], cache_dir=str(tmp_path))
    assert df.columns == ["id"]
    assert df.count() == 4000
    stats = STAGE_STATS[url]
    assert stats["mode"] == "ranged"
    assert stats["bytes_fetched"] < stats["file_size"] / 2, stats


def test_column_staging_cached_separately_from_full(spark, range_store, tmp_path):
    url = f"{range_store}/wide.parquet"
    pruned = read_parquet(spark, url, columns=["id"], cache_dir=str(tmp_path))
    full = read_parquet(spark, url, cache_dir=str(tmp_path))
    assert pruned.columns == ["id"]
    assert sorted(full.columns) == ["id", "payload"]
    assert full.count() == pruned.count() == 4000


def test_stage_remote_full_fallback_without_ranges(spark, http_store, tmp_path):
    """A server that ignores Range (the module's plain http_store) must
    still work: staging falls back to the whole file."""
    from nested_pandas_spark.nestedframe.io import STAGE_STATS

    url = f"{http_store}/objects.parquet"
    df = read_parquet(spark, url, columns=["id"], cache_dir=str(tmp_path))
    assert df.columns == ["id"]
    assert STAGE_STATS[url]["mode"] == "full"


def test_local_paths_untouched(spark, objects, tmp_path):
    p = str(tmp_path / "local.parquet")
    objects.write.mode("overwrite").parquet(p)
    assert read_parquet(spark, p).count() == objects.count()


def test_read_parquet_dnf_filters(spark, tmp_path):
    """pyarrow-style DNF tuple filters (reference io.py:344 / GH#492):
    filtering works on columns NOT in columns=, conjunctions AND,
    list-of-lists OR, and the predicate reaches the scan."""
    import pyspark.sql.functions as F

    from nested_pandas_spark.nestedframe.io import read_parquet

    p = str(tmp_path / "f.parquet")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("z"),
        (F.col("id") * 2).alias("a"),
    ).write.parquet(p)

    out = read_parquet(spark, p, columns=["a"], filters=[("z", "<", 5)])
    assert out.columns == ["a"]
    assert out.count() == 50

    out2 = read_parquet(
        spark, p, columns=["a"],
        filters=[[("z", "<", 2)], [("z", ">", 7), ("id", "<", 50)]])
    # z in {0,1}: 20 rows; z in {8,9} and id<50: 10 rows
    assert out2.count() == 30

    out3 = read_parquet(spark, p, filters=[("z", "in", [3, 4])])
    assert out3.count() == 20

    assert any("LessThan(z,5)" in n.meta.get("PushedFilters", "")
               for n in find_nodes(out, "Scan"))


def test_read_reference_fixed_size_list_files(spark):
    """The reference's own fixed-size-list test fixtures load with the
    same nested-column detection (reference test_io.py
    test_read_parquet_with_fixed_length_struct_list / _list_struct)."""
    import os

    from nested_pandas_spark import NestedFrame
    from nested_pandas_spark.nestedframe.io import read_parquet

    base = "/root/reference/tests/fixed_size_list_data"
    if not os.path.isdir(base):
        import pytest as _pytest

        _pytest.skip("reference fixtures not present")
    nf = NestedFrame(read_parquet(spark, f"{base}/mmu-desi.parquet"))
    assert nf.df.count() == 2 and len(nf.df.columns) == 18
    assert nf.nested_columns == ["spectrum"]
    nf2 = NestedFrame(read_parquet(
        spark, f"{base}/fixed-size-list-struct.parquet"))
    assert nf2.df.count() == 5 and len(nf2.df.columns) == 3
    assert nf2.nested_columns == ["fixed_nested"]


def test_read_parquet_pandas_unnamed_index(spark, tmp_path):
    """A pandas-written file with an unnamed index surfaces it as an
    'index' column (pandas reset_index naming), not __index_level_0__
    (reference test_use_pandas_metadata / GH#460: 'the pandas index
    becomes an explicit key column')."""
    import pandas as pd

    from nested_pandas_spark.nestedframe.io import read_parquet

    p = str(tmp_path / "u.parquet")
    df = pd.DataFrame({"a": [1, 2, 3]})
    df.index = [5, 6, 7]
    df.to_parquet(p)
    out = read_parquet(spark, p)
    assert sorted(out.columns) == ["a", "index"]
    assert sorted(r["index"] for r in out.collect()) == [5, 6, 7]
    raw = read_parquet(spark, p, use_pandas_metadata=False)
    assert "__index_level_0__" in raw.columns

    # named custom index: column keeps its own name in both modes
    p2 = str(tmp_path / "n.parquet")
    pd.DataFrame({"a": [1, 2], "custom_idx": [10, 20]}
                 ).set_index("custom_idx").to_parquet(p2)
    out2 = read_parquet(spark, p2)
    assert sorted(out2.columns) == ["a", "custom_idx"]

    # default RangeIndex is metadata-only: nothing leaks
    p3 = str(tmp_path / "r.parquet")
    pd.DataFrame({"a": [1, 2]}).to_parquet(p3)
    assert read_parquet(spark, p3).columns == ["a"]
