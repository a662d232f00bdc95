"""A present-but-null FORMAT value is written as "." by the VCF sinks.

``parse_vcf_line`` reads a "." FORMAT cell back as an absent map key, but a
frame built by hand may carry the key with a null value. Both VCF text
formatters used to reject that shape (the scalar one with a ``TypeError``
inside the Spark task) while ``write_bcf`` accepted it.
"""

import pyarrow as pa

from hadoop_bam_spark.formats import vcf_vec
from hadoop_bam_spark.formats.vcf import VCF_SCHEMA, VCFHeader, format_vcf_line

LINES = [
    "##fileformat=VCFv4.2",
    "##contig=<ID=c1,length=1000>",
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
    '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Quality">',
]
ROWS = [
    ("c1", 5, 5, None, "A", ["G"], 30.0, ["PASS"], {},
     [("S1", "0/1", {"GT": "0/1", "GQ": None})]),
    ("c1", 9, 9, "v2", "C", ["T"], 12.0, ["PASS"], {},
     [("S1", "1/1", {"GT": "1/1", "GQ": "40"})]),
]
EXPECTED = ["0/1:.", "1/1:40"]


def test_scalar_and_vectorized_formatters_write_dot():
    from hadoop_bam_spark.sources import arrow_schema

    scalar = [format_vcf_line(r, ["S1"]) for r in ROWS]
    assert [line.split("\t")[-1] for line in scalar] == EXPECTED
    batch = pa.RecordBatch.from_pylist(
        [dict(zip(VCF_SCHEMA.names, r)) for r in ROWS],
        schema=arrow_schema(VCF_SCHEMA),
    )
    blob = vcf_vec.format_vcf_chunk(batch, ["S1"])
    assert blob is not None  # the null value no longer forces the row path
    assert blob.decode().rstrip("\n").split("\n") == scalar


def test_write_vcf_matches_write_bcf_readback(spark, tmp_path):
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all
    from tests.test_sources_sinks import same

    register_all(spark)
    hdr = VCFHeader(lines=LINES, samples=["S1"])
    df = spark.createDataFrame(ROWS, VCF_SCHEMA)
    bcf = str(tmp_path / "ok.bcf")
    plain = str(tmp_path / "plain.vcf")
    indexed = str(tmp_path / "indexed.vcf.gz")
    sinks.write_bcf(df, bcf, hdr)
    sinks.write_vcf(df, plain, hdr)
    sinks.write_vcf(df, indexed, hdr, index_tbi=True)

    want = spark.read.format("vcf").load(bcf)
    assert want.count() == len(ROWS)
    for path in (plain, indexed):
        got = spark.read.format("vcf").load(path)
        assert got.count() == len(ROWS)
        assert same(got, want), path
    gq = {
        r.start: r.genotypes[0].fields.get("GQ")
        for r in spark.read.format("vcf").load(plain).collect()
    }
    assert gq == {5: None, 9: "40"}
