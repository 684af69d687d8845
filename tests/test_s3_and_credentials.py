"""S3 listing via a stub client (mirrors the reference's
aws-sdk-client-mock cases, /root/reference/test/util.s3.test.ts),
stubbed-S3 Iceberg metadata reads, credentials-surface parity
(/root/reference/src/glue-table-cache.ts:87-122), and the
GetPartitions degrade-gracefully path
(/root/reference/src/util/glue.ts:130-133)."""

from __future__ import annotations

import pytest

from glue_table_cache_spark.catalog import (
    LocalMetadataStore,
    PartitionEntry,
    PartitionListing,
)
from glue_table_cache_spark.config import Credentials, EngineConfig
from glue_table_cache_spark.engine import GlueSparkEngine
from glue_table_cache_spark.listing import (
    S3FileSystem,
    list_table_files,
    parse_s3_path,
)
from glue_table_cache_spark.projection import extractors_for
from glue_table_cache_spark.catalog import PartitionKey


class FakeS3Client:
    """Paginated ListObjectsV2 + GetObject over an in-memory key map."""

    def __init__(self, objects: dict[str, bytes], page_size: int = 2):
        self._objects = objects
        self._page_size = page_size
        self.list_calls = 0
        self.get_calls = 0
        self.bytes_read = 0

    def list_objects_v2(self, Bucket, Prefix, ContinuationToken=None):
        self.list_calls += 1
        keys = sorted(k for k in self._objects if k.startswith(Prefix))
        start = int(ContinuationToken) if ContinuationToken else 0
        page = keys[start : start + self._page_size]
        resp = {"Contents": [{"Key": k} for k in page]}
        if start + self._page_size < len(keys):
            resp["IsTruncated"] = True
            resp["NextContinuationToken"] = str(start + self._page_size)
        return resp

    def get_object(self, Bucket, Key, Range=None):
        """``Range`` takes S3's ``bytes=a-b`` and suffix ``bytes=-n``
        forms."""
        import io

        data = self._objects[Key]
        if Range is not None:
            lo, hi = Range.removeprefix("bytes=").split("-")
            if lo:
                data = data[int(lo) : int(hi) + 1 if hi else None]
            else:
                data = data[-int(hi) :]
        self.get_calls += 1
        self.bytes_read += len(data)
        return {"Body": io.BytesIO(data)}


# -- parquet footers over S3 ---------------------------------------------------


def test_footer_stats_over_stub_s3_reads_only_the_footer(spark, tmp_path):
    """Zone maps of an ``s3://`` file come from two ranged GETs through
    the client the engine lists with, never the whole object."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from glue_table_cache_spark.listing import FileInfo
    from glue_table_cache_spark.skipping import parquet_footer_stats

    local = tmp_path / "f.parquet"
    pq.write_table(pa.table({"id": pa.array(range(5000), pa.int64())}), local)
    data = local.read_bytes()
    client = FakeS3Client({"t/f.parquet": data})
    st = parquet_footer_stats("s3://b/t/f.parquet", client)
    assert (st.num_records, st.min_values["id"], st.max_values["id"]) == (
        5000, 0, 4999,
    )
    assert client.get_calls == 2
    assert client.bytes_read < len(data) // 10

    client.bytes_read = client.get_calls = 0
    store = LocalMetadataStore()
    tbl = store.register_parquet_dir("db", "t", "s3://b/t")
    eng = GlueSparkEngine(
        spark, store, filesystem=S3FileSystem(client=client)
    )
    stats = eng._footer_stats(tbl)
    assert stats([FileInfo("s3://b/t/f.parquet")]) == [st]
    assert client.get_calls == 2 and client.bytes_read < len(data) // 10
    # not a parquet object: no stats, the file is kept
    client = FakeS3Client({"t/x.parquet": b"not parquet at all"})
    assert parquet_footer_stats("s3://b/t/x.parquet", client) is None


def _parquet_bytes(tmp_path, ids) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "one.parquet"
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}), path)
    return path.read_bytes()


def test_remote_footers_are_read_in_parallel_once(tmp_path):
    """Cold ``s3://`` footers go out several at a time, bounded by the
    listing pool; a warm call makes no GET."""
    import threading
    import time

    from glue_table_cache_spark.listing import LISTING_POOL_WORKERS
    from glue_table_cache_spark.skipping import FooterMemo

    class SlowS3(FakeS3Client):
        def __init__(self, objects):
            super().__init__(objects)
            self._lock = threading.Lock()
            self.in_flight = self.most_in_flight = 0

        def get_object(self, Bucket, Key, Range=None):
            with self._lock:
                self.in_flight += 1
                self.most_in_flight = max(self.most_in_flight, self.in_flight)
            time.sleep(0.01)
            try:
                with self._lock:
                    return super().get_object(Bucket, Key, Range)
            finally:
                with self._lock:
                    self.in_flight -= 1

    n = 2 * LISTING_POOL_WORKERS
    client = SlowS3({
        f"t/f{i}.parquet": _parquet_bytes(tmp_path, [i, i + 1])
        for i in range(n)
    })
    memo = FooterMemo(client)
    paths = [f"s3://b/t/f{i}.parquet" for i in range(n)]
    got = memo.stats(paths)
    assert [s.min_values["id"] for s in got] == list(range(n))
    assert client.get_calls == 2 * n
    assert 1 < client.most_in_flight <= LISTING_POOL_WORKERS
    assert memo.stats(paths) == got
    assert client.get_calls == 2 * n


def test_s3_object_rewritten_in_place_is_read_after_invalidate_table(
    spark, tmp_path
):
    """``s3://`` footers are memoized by key: an object rewritten under
    its old key keeps its old zone map until ``invalidate_table``,
    which drops the table's memo."""
    from glue_table_cache_spark.listing import FileInfo

    client = FakeS3Client({"t/f.parquet": _parquet_bytes(tmp_path, [1, 2])})
    store = LocalMetadataStore()
    tbl = store.register_parquet_dir("db", "t", "s3://b/t")
    eng = GlueSparkEngine(
        spark, store, filesystem=S3FileSystem(client=client)
    )
    files = [FileInfo("s3://b/t/f.parquet")]
    assert eng._footer_stats(tbl)(files)[0].max_values["id"] == 2
    client._objects["t/f.parquet"] = _parquet_bytes(tmp_path, [1, 900])
    assert eng._footer_stats(tbl)(files)[0].max_values["id"] == 2
    eng.invalidate_table("db", "t")
    assert eng._footer_stats(tbl)(files)[0].max_values["id"] == 900


# -- parse_s3_path (reference cases) ----------------------------------------


def test_parse_s3_path_basic():
    assert parse_s3_path("s3://bucket/prefix/path") == (
        "bucket", "prefix/path/",
    )


def test_parse_s3_path_special_bucket():
    bucket, prefix = parse_s3_path("s3://my-bucket.123/path-with_special.chars/")
    assert bucket == "my-bucket.123"
    assert prefix == "path-with_special.chars/"


def test_parse_s3_path_empty_prefix():
    assert parse_s3_path("s3://bucket/") == ("bucket", "")


def test_parse_s3_path_invalid():
    with pytest.raises(ValueError):
        parse_s3_path("invalid://bucket/path")
    with pytest.raises(ValueError):
        parse_s3_path("s3:/bucket/path")


# -- S3 listing with stub client --------------------------------------------


def test_s3_listing_paginates_and_filters_markers():
    client = FakeS3Client(
        {
            "test-prefix/year=2024/file1.parquet": b"",
            "test-prefix/year=2024/file2.parquet": b"",
            "test-prefix/year=2024/file3.parquet": b"",
            "test-prefix/year=2024_$folder$": b"",
            "test-prefix/year=2024/_SUCCESS": b"",
            "test-prefix/year=2024/.file3.parquet.crc": b"",
        },
        page_size=2,
    )
    fs = S3FileSystem(client=client)
    paths = fs.list_files("s3://test-bucket/test-prefix")
    assert paths == [
        "s3://test-bucket/test-prefix/year=2024/file1.parquet",
        "s3://test-bucket/test-prefix/year=2024/file2.parquet",
        "s3://test-bucket/test-prefix/year=2024/file3.parquet",
    ]
    assert client.list_calls == 3  # 6 keys / page_size 2 → paginated


def test_s3_listing_empty():
    fs = S3FileSystem(client=FakeS3Client({}))
    assert fs.list_files("s3://test-bucket/test-prefix") == []


def test_s3_list_table_files_extracts_partition_values():
    client = FakeS3Client(
        {
            "t/year=2024/month=01/a.parquet": b"",
            "t/year=2024/month=02/b.parquet": b"",
            "t/c.parquet": b"",
        },
        page_size=10,
    )
    extractors = extractors_for(
        [PartitionKey("year"), PartitionKey("month")], {}
    )
    files = list_table_files(
        "s3://b/t", extractors, S3FileSystem(client=client)
    )
    by_path = {f.path: f.partition_values for f in files}
    assert by_path["s3://b/t/year=2024/month=01/a.parquet"] == {
        "year": "2024", "month": "01",
    }
    assert by_path["s3://b/t/c.parquet"] == {}


# -- Iceberg metadata over stub S3 ------------------------------------------


def _s3ify_fixture(base, tmp_path) -> dict[str, bytes]:
    """Mirror a local Iceberg fixture into fake-bucket objects with all
    embedded paths rewritten to s3:// URIs.  Avro strings are
    length-prefixed, so the rewrite decodes and re-encodes the records
    instead of patching bytes."""
    from glue_table_cache_spark.sources.avro_lite import read_avro, write_avro
    from glue_table_cache_spark.sources.iceberg_fixture import (
        MANIFEST_ENTRY_SCHEMA,
        MANIFEST_LIST_SCHEMA,
    )

    local, remote = str(base), "s3://bucket/table"
    objects: dict[str, bytes] = {}
    scratch = tmp_path / "_s3ify.avro"
    for p in sorted(base.rglob("*")):
        if not p.is_file():
            continue
        key = f"table/{p.relative_to(base)}"
        if p.name.endswith(".metadata.json"):
            objects[key] = p.read_text().replace(local, remote).encode()
        elif p.suffix == ".avro" and p.name.startswith("snap-"):
            records = read_avro(p)
            for r in records:
                r["manifest_path"] = r["manifest_path"].replace(local, remote)
            write_avro(scratch, MANIFEST_LIST_SCHEMA, records)
            objects[key] = scratch.read_bytes()
        elif p.suffix == ".avro":
            records = read_avro(p)
            for r in records:
                r["data_file"]["file_path"] = r["data_file"][
                    "file_path"
                ].replace(local, remote)
            write_avro(scratch, MANIFEST_ENTRY_SCHEMA, records)
            objects[key] = scratch.read_bytes()
        else:
            objects[key] = p.read_bytes()
    return objects


def test_iceberg_manifest_walk_over_stub_s3(spark, tmp_path):
    """Build a local Iceberg fixture, serve its metadata through the
    fake S3 client, and assert the manifest walk resolves the same
    snapshot files (incl. ignoring the orphan) as the local walk."""
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.iceberg import iceberg_data_files
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )
    from tests.conftest import TESTDATA

    orders = spark.read.parquet(str(TESTDATA / "orders.parquet"))
    even = orders.where(F.col("o_orderkey") % 2 == 0)
    odd = orders.where(F.col("o_orderkey") % 2 == 1)
    base = tmp_path / "ice"
    build_iceberg_table(base, [even, odd], orphan=even)

    local_files = iceberg_data_files(str(base))

    objects = _s3ify_fixture(base, tmp_path)
    client = FakeS3Client(objects, page_size=3)

    class FakeFS:
        def list_files(self, location):
            assert location == "s3://bucket/table/metadata"
            return sorted(
                f"s3://bucket/table/metadata/{k.rsplit('/', 1)[1]}"
                for k in objects
                if k.startswith("table/metadata/")
            )

    s3_files = iceberg_data_files(
        "s3://bucket/table", s3_client=client, fs=FakeFS()
    )
    expected = {
        p.replace(str(base), "s3://bucket/table") for p in local_files
    }
    assert set(s3_files) == expected
    assert len(s3_files) == 2  # two snapshot files, no orphan


def test_iceberg_time_travel_over_stub_s3(spark, tmp_path):
    from pyspark.sql import functions as F

    from glue_table_cache_spark.sources.iceberg import iceberg_data_files
    from glue_table_cache_spark.sources.iceberg_fixture import (
        build_iceberg_table,
    )
    from tests.conftest import TESTDATA

    orders = spark.read.parquet(str(TESTDATA / "orders.parquet"))
    base = tmp_path / "ice"
    build_iceberg_table(
        base,
        [orders.limit(10), orders.limit(5)],
    )
    objects = _s3ify_fixture(base, tmp_path)
    client = FakeS3Client(objects, page_size=10)

    class FakeFS:
        def list_files(self, location):
            return sorted(
                f"s3://bucket/table/metadata/{k.rsplit('/', 1)[1]}"
                for k in objects
                if k.startswith("table/metadata/") and k.endswith(".json")
            )

    v0 = iceberg_data_files("s3://bucket/table", 0, client, FakeFS())
    v1 = iceberg_data_files("s3://bucket/table", 1, client, FakeFS())
    assert len(v0) == 2 and len(v1) == 1
    assert set(v1) < set(v0)


# -- credentials parity ------------------------------------------------------


def test_credentials_empty_secret_raises_reference_error():
    with pytest.raises(ValueError, match="No secretAccessKey"):
        Credentials(access_key_id="AKID", secret_access_key="")


def test_engine_applies_credentials_to_hadoop_conf(spark, store):
    engine = GlueSparkEngine(
        spark,
        store,
        EngineConfig(
            credentials=Credentials(
                access_key_id="AKIDTEST",
                secret_access_key="SECRETTEST",
                session_token="TOKTEST",
            ),
            region="eu-west-1",
        ),
    )
    hconf = engine.spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") == "AKIDTEST"
    assert hconf.get("fs.s3a.secret.key") == "SECRETTEST"
    assert hconf.get("fs.s3a.session.token") == "TOKTEST"
    assert "TemporaryAWSCredentialsProvider" in hconf.get(
        "fs.s3a.aws.credentials.provider"
    )
    assert hconf.get("fs.s3a.endpoint.region") == "eu-west-1"


def test_set_credentials_runtime_swap(spark, store):
    engine = GlueSparkEngine(spark, store, EngineConfig())
    engine.set_credentials(
        Credentials(access_key_id="AKID2", secret_access_key="SECRET2")
    )
    hconf = engine.spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.access.key") == "AKID2"
    assert hconf.get("fs.s3a.secret.key") == "SECRET2"


# -- partitions degrade-gracefully ------------------------------------------


def test_local_store_partitions_roundtrip(store):
    s = LocalMetadataStore()
    s.register_parquet_dir("db", "t", "/tmp/x")
    listing = PartitionListing(
        keys=("year",),
        values=(PartitionEntry(("2024",), "s3://b/t/year=2024"),),
    )
    s.register_partitions("db", "t", listing)
    assert s.get_partitions("db", "t") == listing
    # unregistered partitions on a known table → empty listing
    s.register_parquet_dir("db", "u", "/tmp/y")
    assert s.get_partitions("db", "u") == PartitionListing()


def test_engine_partitions_failure_warns_and_degrades(spark, caplog):
    class ExplodingStore:
        def get_table(self, database, table):
            raise AssertionError("not used here")

        def get_partitions(self, database, table):
            raise RuntimeError("glue is down")

    engine = GlueSparkEngine(spark, ExplodingStore(), EngineConfig())
    import logging

    with caplog.at_level(logging.WARNING):
        out = engine.get_table_partitions("db", "t")
    assert out == PartitionListing()
    assert "Failed to load partitions for db_t" in caplog.text


def test_credential_rotation_clears_stale_session_token(spark):
    """Rotating from temporary to static credentials must unset the
    stale session token and the pinned Temporary provider."""
    from glue_table_cache_spark.catalog import LocalMetadataStore
    from glue_table_cache_spark.config import Credentials
    from glue_table_cache_spark.engine import GlueSparkEngine

    eng = GlueSparkEngine(spark, LocalMetadataStore())
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    eng.set_credentials(Credentials("k1", "s1", session_token="tok"))
    assert hconf.get("fs.s3a.session.token") == "tok"
    eng.set_credentials(Credentials("k2", "s2"))
    assert hconf.get("fs.s3a.access.key") == "k2"
    assert hconf.get("fs.s3a.session.token") is None
    assert hconf.get("fs.s3a.aws.credentials.provider") is None
