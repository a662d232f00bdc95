"""Every file sink, merged and sharded, with and without its index, on
small frames generated here (no fixture files): the output reads back
equal through the matching source, prunes through its index, and a
re-write replaces earlier sidecars and shards. Also the streaming sinks,
a retried task attempt, and sha256 pins of two merged outputs."""

import hashlib
import json
import os
import random
import subprocess
import sys
import textwrap

import pytest

from hadoop_bam_spark import sinks
from hadoop_bam_spark.formats.bed import BED_SCHEMA
from hadoop_bam_spark.formats.bedgraph import BEDGRAPH_SCHEMA
from hadoop_bam_spark.formats.gff import GFF_SCHEMA
from hadoop_bam_spark.formats.sam import SAM_SCHEMA, parse_header
from hadoop_bam_spark.formats.vcf import VCF_SCHEMA, VCFHeader
from hadoop_bam_spark.sources.fasta_source import FASTA_SCHEMA
from hadoop_bam_spark.sources.fastq_source import FASTQ_SCHEMA
from hadoop_bam_spark.tools import bgzf_bam_validator as V

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CONTIGS = [("chr1", 60000), ("chr2", 40000)]
SAM_HEADER = parse_header(
    ["@HD\tVN:1.6\tSO:coordinate"] + [f"@SQ\tSN:{c}\tLN:{n}" for c, n in CONTIGS])
INTERVAL = "chr1:1-20001"


def _vcf_header():
    h = VCFHeader()
    h.lines = ["##fileformat=VCFv4.2"] + [
        f"##contig=<ID={c},length={n}>" for c, n in CONTIGS] + [
        '##FILTER=<ID=PASS,Description="pass">',
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">',
        '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="depth">',
    ]
    h.samples = ["s1", "s2"]
    h.contigs = {c: i for i, (c, _) in enumerate(CONTIGS)}
    return h


def _reads(seed, n=300):
    rng = random.Random(seed)
    out = []
    for ci, (c, ln) in enumerate(CONTIGS):
        for j, p in enumerate(sorted(rng.randrange(1, ln - 100) for _ in range(n))):
            seq = "".join(rng.choice("ACGT") for _ in range(50))
            qual = "".join(chr(33 + rng.randrange(40)) for _ in range(50))
            tags = {"NM": str(j % 4), "RG": "g1"} if j % 3 else {}
            out.append((f"q{seed}_{ci}_{j}", 16 * (j % 2), c, p, 60, "50M",
                        None, 0, 0, seq, qual, tags))
    out += [(f"u{seed}_{j}", 4, None, 0, 0, None, None, 0, 0, "ACGTN", "IIIII", {})
            for j in range(5)]
    return out


def _variants(seed, n=300):
    rng = random.Random(seed)
    out = []
    for c, ln in CONTIGS:
        for p in sorted(rng.sample(range(1, ln - 10), n)):
            ref = rng.choice(["A", "C", "GT"])
            out.append((c, p, p + len(ref) - 1, f"rs{p}", ref, ["G"],
                        float(rng.randrange(100)), ["PASS"],
                        {"DP": str(rng.randrange(100))},
                        [(s, gt, {"GT": gt, "DP": str(rng.randrange(50))})
                         for s, gt in (("s1", "0/1"), ("s2", rng.choice(["0/0", "1/1"])))]))
    return out


def _features(seed, n=300):
    rng = random.Random(seed)
    bed, bg, gff = [], [], []
    for c, ln in CONTIGS:
        for j, p in enumerate(sorted(rng.sample(range(1, ln - 1000), n))):
            bed.append((c, p, p + rng.randrange(0, 300), f"f{j}" if j % 5 else None,
                        j if j % 2 else None, "+" if j % 3 else None, None))
            bg.append((c, p, p + 49, rng.choice([0.5, 1.0, 2.25, 3.0])))
            gff.append((c, "src", "gene", p, p + rng.randrange(1, 300),
                        None if j % 3 else j / 8.0, "+", None,
                        {"ID": f"g{j}", "Name": f"n{j}"} if j % 4 else {}))
    return bed, bg, gff


def _fastq(n=200):
    return [(f"read{i}", "ACGTN" * 6, "".join(chr(40 + i % 30) for _ in range(30)),
             None, None, None, None, None, None, None, None, True, None, None)
            for i in range(n)]


def _norm(v):
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):
        return _norm(v.asDict())
    return v


def _rows(df):
    return sorted((_norm(tuple(r)) for r in df.collect()), key=repr)


def _want(rows):
    return sorted((_norm(r) for r in rows), key=repr)


def _in_interval(contig, pos):
    return contig == "chr1" and 1 <= pos <= 20001


@pytest.fixture(scope="module")
def fmt_spark(spark):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    return spark


def _frame(spark, rows, schema, n=3):
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, n), schema)


def _reader(fmt, path, **opts):
    from hadoop_bam_spark.sources.bam_source import BAMReader
    from hadoop_bam_spark.sources.bcf_source import BCFReader
    from hadoop_bam_spark.sources.bed_source import BEDReader
    from hadoop_bam_spark.sources.bedgraph_source import BedGraphReader
    from hadoop_bam_spark.sources.cram_source import CRAMReader
    from hadoop_bam_spark.sources.gff_source import GFFReader
    from hadoop_bam_spark.sources.vcf_source import VCFReader

    cls = {"bam": BAMReader, "cram": CRAMReader, "bcf": BCFReader,
           "vcf": VCFReader, "bed": BEDReader, "bedgraph": BedGraphReader,
           "gff": GFFReader}[fmt]
    return cls({"path": path, "split_size": "2048", **opts})


# (source format, writer(df, path, index, sharded), rows, schema,
#  index sidecar, shard extension, (contig, pos) of a row)
def _specs():
    bed, bg, gff = _features(3)
    vh = _vcf_header()
    return {
        "bam": ("bam", lambda df, p, ix, sh: sinks.write_bam(
            df, p, SAM_HEADER, index_granularity=64, index_bai=ix,
            index_splitting_bai=ix, sharded=sh),
            _reads(1), SAM_SCHEMA, ".bai", ".bam", lambda r: (r[2], r[3])),
        "cram": ("cram", lambda df, p, ix, sh: sinks.write_cram(
            df, p, SAM_HEADER, records_per_container=200,
            records_per_slice=100, index_crai=ix, sharded=sh),
            _reads(1), SAM_SCHEMA, ".crai", ".cram", lambda r: (r[2], r[3])),
        "bcf": ("bcf", lambda df, p, ix, sh: sinks.write_bcf(
            df, p, vh, index_csi=ix, sharded=sh),
            _variants(2), VCF_SCHEMA, ".csi", ".bcf", lambda r: (r[0], r[1])),
        "vcf": ("vcf", lambda df, p, ix, sh: sinks.write_vcf(
            df, p, vh, compress=True, index_tbi=ix, sharded=sh),
            _variants(2), VCF_SCHEMA, ".tbi", ".vcf.bgz", lambda r: (r[0], r[1])),
        "bed": ("bed", lambda df, p, ix, sh: sinks.write_bed(
            df, p, compress=True, index_tbi=ix, sharded=sh),
            bed, BED_SCHEMA, ".tbi", ".bed.bgz", lambda r: (r[0], r[1])),
        "bedgraph": ("bedgraph", lambda df, p, ix, sh: sinks.write_bedgraph(
            df, p, compress=True, index_tbi=ix, sharded=sh),
            bg, BEDGRAPH_SCHEMA, ".tbi", ".bedgraph.bgz", lambda r: (r[0], r[1])),
        "gff": ("gff", lambda df, p, ix, sh: sinks.write_gff(
            df, p, compress=True, index_tbi=ix, sharded=sh),
            gff, GFF_SCHEMA, ".tbi", ".gff3.bgz", lambda r: (r[0], r[3])),
    }


SPECS = _specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_indexed_formats_matrix(fmt_spark, tmp_path, name):
    """Merged and sharded, index off and on: each output reads back equal
    to the input; with the index, an interval read prunes splits and
    returns exactly the overlapping records."""
    src, write, rows, schema, side, ext, key = SPECS[name]
    df = _frame(fmt_spark, rows, schema)
    want = _want(rows)
    for sharded in (False, True):
        for index in (False, True):
            p = str(tmp_path / f"{name}-{int(sharded)}{int(index)}")
            if not sharded:
                p += ext
            write(df, p, index, sharded)
            back = fmt_spark.read.format(src).load(p)
            assert _rows(back) == want, (name, sharded, index)
            files = [p] if not sharded else sorted(
                os.path.join(p, f) for f in os.listdir(p) if f.endswith(ext))
            if sharded:
                man = json.load(open(os.path.join(p, "_manifest.json")))
                assert man["format"] == name
                assert man["records"] == len(rows)
                assert [s["shard"] for s in man["shards"]] == [
                    os.path.basename(f) for f in files]
                assert len(files) == 3
            for f in files:
                assert os.path.exists(f + side) == index, (f, side)
                if name == "bam":
                    assert V.validate_file(f) == [], f
                    assert os.path.exists(f + ".sbi")
                elif ext.endswith(".bgz"):
                    assert V.validate_file(f, mode="bgzf") == [], f
            if not index:
                continue
            full = _reader(src, p).partitions()
            pruned = _reader(src, p, intervals=INTERVAL).partitions()
            if name == "cram":  # multi-reference slices keep their containers
                assert sum(q.end - q.start for q in pruned) < sum(
                    q.end - q.start for q in full)
            else:
                assert len(pruned) < len(full), (name, sharded)
            got = fmt_spark.read.format(src).option("intervals", INTERVAL).load(p)
            got_keys = sorted(key(r) for r in got.collect())
            assert got_keys == sorted(k for k in map(key, rows) if _in_interval(*k))


def test_text_formats_matrix(fmt_spark, tmp_path):
    """SAM, FASTQ, QSEQ, plain VCF/BED/bedGraph/GFF and FASTA: merged and
    sharded outputs read back equal."""
    bed, bg, gff = _features(4, n=60)
    variants = _variants(5, n=60)
    reads = _reads(6, n=60)
    fq = _fastq()
    cases = [
        ("sam", lambda d, p, sh: sinks.write_sam(d, p, SAM_HEADER, sharded=sh),
         reads, SAM_SCHEMA, ".sam", lambda r: r),
        ("vcf", lambda d, p, sh: sinks.write_vcf(
            d, p, _vcf_header(), compress=False, sharded=sh),
         variants, VCF_SCHEMA, ".vcf", lambda r: r),
        ("bed", lambda d, p, sh: sinks.write_bed(d, p, compress=False, sharded=sh),
         bed, BED_SCHEMA, ".bed", lambda r: r),
        ("bedgraph", lambda d, p, sh: sinks.write_bedgraph(
            d, p, compress=False, sharded=sh),
         bg, BEDGRAPH_SCHEMA, ".bedgraph", lambda r: r),
        ("gff", lambda d, p, sh: sinks.write_gff(d, p, compress=False, sharded=sh),
         gff, GFF_SCHEMA, ".gff3", lambda r: r),
        ("fastq", lambda d, p, sh: sinks.write_fastq(d, p, sharded=sh),
         fq, FASTQ_SCHEMA, ".fastq", lambda r: r[:3]),
        ("qseq", lambda d, p, sh: sinks.write_qseq(d, p, sharded=sh),
         fq, FASTQ_SCHEMA, ".qseq", lambda r: (r[1], r[2])),
    ]
    for src, write, rows, schema, ext, key in cases:
        df = _frame(fmt_spark, rows, schema, n=2)
        want = sorted((_norm(key(r)) for r in rows), key=repr)
        for sharded in (False, True):
            p = str(tmp_path / f"{src}-{int(sharded)}") + ("" if sharded else ext)
            write(df, p, sharded)
            got = sorted((_norm(key(tuple(r))) for r in
                          fmt_spark.read.format(src).load(p).collect()), key=repr)
            assert got == want, (src, sharded)
            if sharded:
                man = json.load(open(os.path.join(p, "_manifest.json")))
                assert man["format"] == src and man["records"] == len(rows)
                assert sum(s["records"] for s in man["shards"]) == len(rows)
                for s in man["shards"]:
                    assert s["shard"].endswith(ext)
    fa = [(c, 1 + 60 * k, "ACGT" * 15) for c in ("c1", "c2") for k in range(20)]
    p = str(tmp_path / "a.fa")
    sinks.write_fasta(_frame(fmt_spark, fa, FASTA_SCHEMA, n=2), p)
    assert os.path.exists(p + ".fai")
    assert sorted(tuple(r) for r in fmt_spark.read.format("fasta").load(p).collect()) \
        == sorted(fa)


def test_rewrite_removes_stale_sidecars(fmt_spark, tmp_path):
    """A second write to the same path without an index must not leave the
    first write's index behind: a stale .bai points into bytes that no
    longer exist."""
    a, b = _reads(11), _reads(12)
    p = str(tmp_path / "x.bam")
    sinks.write_bam(_frame(fmt_spark, a, SAM_SCHEMA), p, SAM_HEADER,
                    index_bai=True, index_splitting_bai=True)
    sinks.write_bam(_frame(fmt_spark, b, SAM_SCHEMA), p, SAM_HEADER)
    assert not os.path.exists(p + ".bai")
    assert not os.path.exists(p + ".splitting-bai")
    got = fmt_spark.read.format("bam").option("intervals", INTERVAL).load(p)
    assert sorted(r.qname for r in got.collect()) == sorted(
        r[0] for r in b if _in_interval(r[2], r[3]))
    v = str(tmp_path / "x.vcf.bgz")
    sinks.write_vcf(_frame(fmt_spark, _variants(13), VCF_SCHEMA), v,
                    _vcf_header(), index_tbi=True)
    sinks.write_vcf(_frame(fmt_spark, _variants(14), VCF_SCHEMA), v, _vcf_header())
    assert not os.path.exists(v + ".tbi")


def test_rewrite_replaces_stale_shards(fmt_spark, tmp_path):
    """4 shards, then 2 shards of other reads into the same directory:
    only the second write's shards are left, and unrelated files stay."""
    a, b = _reads(21, n=1000), _reads(22, n=1000)
    out = str(tmp_path / "dir")
    sinks.write_bam(_frame(fmt_spark, a, SAM_SCHEMA, n=4), out, SAM_HEADER,
                    index_bai=True, sharded=True)
    with open(os.path.join(out, "NOTES.txt"), "w") as f:
        f.write("keep")
    sinks.write_bam(_frame(fmt_spark, b, SAM_SCHEMA, n=2), out, SAM_HEADER,
                    sharded=True)
    assert sorted(os.listdir(out)) == [
        "NOTES.txt", "_manifest.json", "part-00000.bam", "part-00000.bam.sbi",
        "part-00001.bam", "part-00001.bam.sbi"]
    back = fmt_spark.read.format("bam").load(out)
    assert sorted(r.qname for r in back.collect()) == sorted(r[0] for r in b)


#: sha256 of the merged outputs of _pinned_outputs, recorded from the
#: writer before the sinks shared one part codec per format
PINNED = {
    "p.bam":
        "25dffcc345c9c5358f74858b916acc4bcae2809ffa576c6f35a815efbd8453c9",
    "p.bam.bai":
        "f4425b0ad06756d78dd759dd5c580fde73e77ae6edbb3456e387d242e557e5c7",
    "p.bam.sbi":
        "bcdf0df7c846591923ba2fdc44a87c3b0263fa51be3c0c8f7f7f3526d45570a7",
    "p.vcf.bgz":
        "deaff6098bed4814f628adce64485dd8091ec0d3e3f0c4410b715d5a315b54c4",
    "p.vcf.bgz.tbi":
        "8b05ec16342e074638ba578da9df36596aabda64484759ae4a2eec97df212464",
}


def _pinned_outputs(spark, d):
    sinks.write_bam(_frame(spark, _reads(31), SAM_SCHEMA), os.path.join(d, "p.bam"),
                    SAM_HEADER, index_granularity=64, index_bai=True)
    sinks.write_vcf(_frame(spark, _variants(32), VCF_SCHEMA),
                    os.path.join(d, "p.vcf.bgz"), _vcf_header(), index_tbi=True)
    return {n: hashlib.sha256(open(os.path.join(d, n), "rb").read()).hexdigest()
            for n in PINNED}


def test_merged_bytes_pinned(fmt_spark, tmp_path):
    assert _pinned_outputs(fmt_spark, str(tmp_path)) == PINNED


def test_stream_sinks(fmt_spark, tmp_path):
    """writeStream bam, vcf and bcf: tail a landing directory, land
    shards, read them back equal to the input."""
    from hadoop_bam_spark.streaming.bam_stream import BamStreamDataSource
    from hadoop_bam_spark.streaming.shard_commit import read_manifest
    from hadoop_bam_spark.streaming.vcf_stream import VCFStreamDataSource

    fmt_spark.dataSource.register(BamStreamDataSource)
    fmt_spark.dataSource.register(VCFStreamDataSource)
    reads, variants = _reads(41, n=100), _variants(42, n=100)
    land_b, land_v = tmp_path / "land_bam", tmp_path / "land_vcf"
    land_b.mkdir()
    land_v.mkdir()
    sinks.write_bam(_frame(fmt_spark, reads, SAM_SCHEMA), str(land_b / "a.bam"),
                    SAM_HEADER)
    os.remove(land_b / "a.bam.sbi")
    sinks.write_vcf(_frame(fmt_spark, variants, VCF_SCHEMA), str(land_v / "a.vcf"),
                    _vcf_header())
    for fmt, src, land, header, rows in [
        ("bam", "bam_stream", land_b, land_b / "a.bam", reads),
        ("vcf", "vcf_stream", land_v, land_v / "a.vcf", variants),
        ("bcf", "vcf_stream", land_v, land_v / "a.vcf", variants),
    ]:
        out = tmp_path / f"out_{fmt}"
        (fmt_spark.readStream.format(src).load(str(land))
         .writeStream.format(fmt).option("path", str(out))
         .option("header", str(header))
         .option("checkpointLocation", str(tmp_path / f"ck_{fmt}"))
         .trigger(availableNow=True).start().awaitTermination())
        assert sum(e["records"] for e in read_manifest(str(out))) == len(rows)
        shards = [f for f in os.listdir(out) if f.startswith("batch-")]
        assert shards and all(f.endswith("." + fmt if fmt != "vcf" else ".vcf.bgz")
                              for f in shards)
        back = fmt_spark.read.format(fmt).load(str(out))
        if fmt == "bcf":
            assert sorted((r.contig, r.start, r.ref) for r in back.collect()) == \
                sorted((r[0], r[1], r[4]) for r in rows)
        else:
            assert _rows(back) == _want(rows), fmt
        if fmt == "bam":
            for f in shards:
                assert V.validate_file(str(out / f)) == [], f


_RETRY_SCRIPT = textwrap.dedent("""
    import hashlib, os, sys
    from pyspark import TaskContext
    sys.path.insert(0, {repo!r})
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.session import get_spark
    from tests.test_sink_matrix import SAM_HEADER, _frame, _reads
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA

    d = sys.argv[1]
    spark = get_spark("retry", master="local[2,2]", shuffle_partitions=2,
                      extra_conf={{"spark.sql.execution.arrow.maxRecordsPerBatch": "50"}})

    class FailOnce(sinks._BamCodec):
        # the first attempt of partition 1 dies once its staged file has bytes
        def body(self, f, batches):
            ctx = TaskContext.get()

            def feed():
                for b in batches:
                    if ctx.partitionId() == 1 and f.tell():
                        f.flush()
                        with open(os.path.join(d, f"seen-{{ctx.attemptNumber()}}"),
                                  "w") as out:
                            out.write(f"{{os.path.basename(f.name)}} "
                                      f"{{os.path.getsize(f.name)}}")
                        if ctx.attemptNumber() == 0:
                            raise RuntimeError("injected task failure")
                    yield b

            return super().body(f, feed())

    df = _frame(spark, _reads(51, n=1500), SAM_SCHEMA, n=2)
    refs = [(c, n) for c, (_, n) in sorted(SAM_HEADER.sequences.items(),
                                           key=lambda kv: kv[1][0])]
    for sharded, name in ((False, "r.bam"), (True, "shards")):
        out, clean = os.path.join(d, name), os.path.join(d, "clean-" + name)
        sinks._write(df, out, FailOnce(SAM_HEADER, refs, index_bai=True), sharded)
        sinks.write_bam(df, clean, SAM_HEADER, index_bai=True, sharded=sharded)
        for f in sorted(os.listdir(out) if sharded else ["", ".bai", ".sbi"]):
            a, b = (os.path.join(out, f), os.path.join(clean, f)) if sharded \
                else (out + f, clean + f)
            same = open(a, "rb").read() == open(b, "rb").read()
            print(name + f, same)
        os.rename(os.path.join(d, "seen-0"), os.path.join(d, name + "-seen-0"))
        os.rename(os.path.join(d, "seen-1"), os.path.join(d, name + "-seen-1"))
    spark.stop()
""")


def test_retried_attempt_is_byte_identical(tmp_path):
    """The first attempt of one partition dies after writing part of its
    staged file; with the retry, the merged file and the shards equal a
    clean write byte for byte, and the two attempts wrote different
    staged paths."""
    script = tmp_path / "retry.py"
    script.write_text(_RETRY_SCRIPT.format(repo=REPO))
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g")
    res = subprocess.run([sys.executable, str(script), str(tmp_path)],
                         capture_output=True, text=True, env=env, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    lines = [ln.split() for ln in res.stdout.splitlines()]
    assert len(lines) == 3 + 2 * 3 + 1  # merged trio; 2 shards x 3 files; manifest
    assert all(same == "True" for _, same in lines), lines
    for name in ("r.bam", "shards"):
        first, size = (tmp_path / f"{name}-seen-0").read_text().split()
        second, _ = (tmp_path / f"{name}-seen-1").read_text().split()
        assert int(size) > 0  # the failed attempt had written part of its file
        assert first.endswith("-part-00001.bam") and second.endswith("-part-00001.bam")
        assert first != second
