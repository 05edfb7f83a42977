"""The documents-derived WARC corpus behind the registered warcq queries."""

from __future__ import annotations


def test_registered_warcq_partitioning(spark):
    """The registered warc_source_payload_digest query scans one input
    partition per derived archive and covers every document."""
    from cc_pyspark_spark.plans import QUERIES
    from cc_pyspark_spark.plans.warcq import _N_FILES
    from tests.conftest import SF_DIR

    df = QUERIES["warc_source_payload_digest"].spark(spark, SF_DIR)
    assert df.rdd.getNumPartitions() == _N_FILES
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert df.count() == docs.count()


def test_tiny_fixture_publishes_all_shards_header_only(spark, tmp_path):
    """A documents table smaller than _N_FILES must still publish all
    _N_FILES archives (empty residue classes backfilled as valid
    header-only WARCs) — ADVICE r8: the r8 executor-side build used to
    RuntimeError because tasks never write zero-doc shards."""
    import shutil

    from cc_pyspark_spark.plans.warcq import _N_FILES, derived_warc_manifest
    from cc_pyspark_spark.sources.warcio_lite import iter_warc_records

    sf_dir = tmp_path / "sf_tiny"
    sf_dir.mkdir()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter("doc_id < 2").coalesce(1).write.parquet(
        str(sf_dir / "documents.parquet")
    )
    # the builder memoizes on /tmp path derived from the basename
    shutil.rmtree("/tmp/cc_pyspark_spark_warcq_sf_tiny", ignore_errors=True)
    manifest = derived_warc_manifest(spark, str(sf_dir))
    paths = open(manifest).read().split()
    assert len(paths) == _N_FILES
    n_responses = 0
    for p in paths:
        with open(p, "rb") as fh:
            recs = list(iter_warc_records(fh))
        assert recs, f"{p} must hold at least the warcinfo record"
        assert recs[0].rec_type == "warcinfo"
        n_responses += sum(1 for r in recs if r.rec_type == "response")
    assert n_responses == 2
    shutil.rmtree("/tmp/cc_pyspark_spark_warcq_sf_tiny", ignore_errors=True)
