"""IcebergSink logic unit tests - no Iceberg jars in this sandbox, so
everything up to the actual ``writeTo`` network call is exercised with
stub writer/catalog objects; the only uncovered line is the Spark
commit itself (which is Iceberg-runtime territory, not ours)."""

import pytest

from livre_spark.plans.sinks import IcebergSink, ParquetSink


class _StubWriter:
    def __init__(self, log):
        self.log = log

    def option(self, k, v):
        self.log.append(("option", k, v))
        return self

    def append(self):
        self.log.append(("append",))

    def create(self):
        self.log.append(("create",))


class _StubCatalog:
    def __init__(self, exists):
        self._exists = exists
        self.probed = []

    def tableExists(self, name):
        self.probed.append(name)
        if isinstance(self._exists, Exception):
            raise self._exists
        return self._exists


class _StubSpark:
    def __init__(self, exists):
        self.catalog = _StubCatalog(exists)


class _StubDF:
    def __init__(self, exists):
        self.log = []
        self.sparkSession = _StubSpark(exists)
        self.wrote_to = None

    def writeTo(self, name):
        self.wrote_to = name
        return _StubWriter(self.log)


def test_location_is_namespace_qualified():
    ice = IcebergSink("lake.crawl")
    assert ice.location("documents_text") == "lake.crawl.documents_text"


def test_append_existing_table_threads_snapshot_props():
    """run_id lineage rides as snapshot-property options, stringified,
    and an existing table gets append(), never create()."""
    ice = IcebergSink("lake.crawl",
                      snapshot_props={"run_id": "r7", "attempt": 2})
    df = _StubDF(exists=True)
    ice.append(df, "documents_text")
    assert df.wrote_to == "lake.crawl.documents_text"
    assert df.sparkSession.catalog.probed == ["lake.crawl.documents_text"]
    opts = {e[1:] for e in df.log if e[0] == "option"}
    assert opts == {("snapshot-property.run_id", "r7"),
                    ("snapshot-property.attempt", "2")}
    assert df.log[-1] == ("append",)
    assert ("create",) not in df.log


def test_append_missing_table_bootstraps_with_create():
    """DataFrameWriterV2.append never creates the table; a fresh
    namespace goes through create() - decided by an EXPLICIT catalog
    probe, so a TABLE_OR_VIEW_NOT_FOUND raised for some other relation
    in the plan can't fake a missing target."""
    ice = IcebergSink("lake.crawl")
    df = _StubDF(exists=False)
    ice.append(df, "documents_text")
    assert df.log[-1] == ("create",)
    assert ("append",) not in df.log


def test_append_catalog_probe_failure_falls_through_to_append():
    """An unconfigured/erroring catalog must not mask the real failure:
    the probe degrades to 'assume exists' so append() raises with full
    context instead of a misleading create() attempt."""
    ice = IcebergSink("lake.crawl")
    df = _StubDF(exists=RuntimeError("catalog 'lake' not found"))
    ice.append(df, "documents_text")
    assert df.log[-1] == ("append",)
    assert ("create",) not in df.log


def test_parquet_sink_location_joins_root():
    sink = ParquetSink("/data/out")
    assert sink.location("documents_text") == "/data/out/documents_text"


def test_iceberg_read_or_none_probes_the_catalog():
    """A table the catalog does not report (or a failed probe) reads as
    None without a read; a reported table's read error surfaces instead
    of passing for "absent"."""
    class Spark(_StubSpark):
        def table(self, name):
            raise RuntimeError(f"cannot read {name}")

    ice = IcebergSink("lake.crawl")
    assert ice.read_or_none(Spark(exists=False), "done_urls") is None
    assert ice.read_or_none(Spark(exists=RuntimeError("no catalog")),
                            "done_urls") is None
    with pytest.raises(RuntimeError, match="lake.crawl.done_urls"):
        ice.read_or_none(Spark(exists=True), "done_urls")
