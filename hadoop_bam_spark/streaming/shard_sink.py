"""Streaming shard sinks: ``df.writeStream.format(fmt)`` for ``bam``,
``cram``, ``bcf``, ``vcf``, ``bed``, ``bedgraph`` and ``gff``.

One Arrow writer bound to the batch sinks' part codecs
(:mod:`hadoop_bam_spark.sinks`): each micro-batch task writes one
complete standalone shard per non-empty partition — head + body + tail,
the merged file's layout, through the same vectorized encoders as the
batch writes — to ``<path>/.staging/`` under the attempt-unique name
``attempt-{taskAttemptId}-part-{partition:05d}{ext}`` (removed on task
failure), and returns that name in its commit message. ``commit``
(driver, once per batch) runs the replay-safe protocol in
:mod:`hadoop_bam_spark.streaming.shard_commit`: supersede any earlier
attempt of the same batchId, rename the winners into place as
``batch-{batchId:05d}-{i:05d}{ext}``, atomically replace the per-batch
``_manifest-{batchId:05d}.jsonl``, sweep stale staging attempts;
``abort`` discards the batch's staged files. The matching batch source
reads the output directory natively and the ``*_stream`` tail sources
tail it, so tail → transform → land pipelines chain with exactly-once
file-level semantics at every hop.

Options:
  ``path``    target directory (required).
  ``header``  bam/cram: a SAM text or BAM file whose @-header and
              reference dictionary every shard carries; vcf/bcf: a VCF
              file supplying the ##-header and sample columns. Required
              for those four formats — a standalone shard is meaningless
              without one.
  cram only:
  ``reference``  optional FASTA path (visible to every executor): shards
              become reference-compressed (RR=true) and reading them
              requires the same FASTA.
  ``embed_reference``  with ``reference``: embed each single-ref slice's
              window so shards are self-contained (readers need no FASTA).
  ``records_per_container`` / ``records_per_slice``  container layout
              (defaults 30000 / 10000, same as the batch sink).
  ``codecs``  "gzip" (default) or "auto" — per-block measured rANS-4x8
              for qual/flag-class series (see FORMAT_BENCH.md r9).

The reference has no streaming surface at all (SURVEY.md §2.9); this is
engine surface beyond it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceStreamArrowWriter, WriterCommitMessage

from hadoop_bam_spark import fs
from hadoop_bam_spark.sources import local_path


@dataclass
class ShardCommit(WriterCommitMessage):
    staged: str | None  # name inside .staging, None for an empty partition
    records: int


def _load_sam_header(path: str):
    """SAMHeader + refs from a SAM text file or a BAM file."""
    p = local_path(path)
    from hadoop_bam_spark.formats import bam, bgzf
    from hadoop_bam_spark.formats.sam import parse_header

    with fs.open_file(p, "rb") as f:
        magic = f.read(2)
    if magic == b"\x1f\x8b":  # BGZF/BAM
        with fs.open_file(p, "rb") as f:
            header, refs, _ = bam.read_header(bgzf.BGZFReader(f))
        return header, refs
    with fs.open_file(p, "rb") as f:
        hdr = parse_header(
            ln for ln in f.read().decode().splitlines() if ln.startswith("@")
        )
    refs = [
        (name, ln)
        for name, (_i, ln) in sorted(
            hdr.sequences.items(), key=lambda kv: kv[1][0]
        )
    ]
    return hdr, refs


class ShardStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, dir_: str, codec):
        self._dir = dir_
        self._codec = codec

    # -- executors ---------------------------------------------------------
    def write(self, iterator) -> ShardCommit:
        from pyspark import TaskContext

        from hadoop_bam_spark.sinks import _staged_name, _write_part

        codec = self._codec
        staging = fs.join(self._dir, ".staging")
        fs.makedirs(staging)
        name = _staged_name(TaskContext.get(), codec.ext)
        tmp = fs.join(staging, name)
        _, _, n = _write_part(
            codec, tmp, (codec.arrow_select(b) for b in iterator), whole=True
        )
        if n == 0:
            fs.remove(tmp)
            return ShardCommit(staged=None, records=0)
        return ShardCommit(staged=name, records=n)

    # -- driver ------------------------------------------------------------
    def commit(self, messages, batchId: int) -> None:
        from hadoop_bam_spark.streaming.shard_commit import commit_shards

        commit_shards(self._dir, messages, batchId, self._codec.ext)

    def abort(self, messages, batchId: int) -> None:
        from hadoop_bam_spark.streaming.shard_commit import abort_shards

        abort_shards(self._dir, messages)


def stream_writer(fmt: str, options) -> ShardStreamWriter:
    """The ``fmt`` DataSource's ``streamWriter``: options -> codec."""
    from hadoop_bam_spark import sinks

    path = options.get("path")
    if not path:
        raise ValueError(f"{fmt} stream sink requires a path (directory)")
    header_src = options.get("header")
    if fmt in ("bam", "cram", "vcf", "bcf") and not header_src:
        kind = "sam-or-bam" if fmt in ("bam", "cram") else "vcf"
        raise ValueError(
            f"{fmt} stream sink requires option('header', <{kind} path>): "
            "every shard is a standalone file and must carry the header"
        )
    if fmt == "bam":
        header, refs = _load_sam_header(header_src)
        codec = sinks._BamCodec(header, refs, granularity=0)
    elif fmt == "cram":
        header, refs = _load_sam_header(header_src)
        reference = options.get("reference")
        codec = sinks._CramCodec(
            header, refs,
            records_per_container=int(options.get("records_per_container", 30000)),
            records_per_slice=int(options.get("records_per_slice", 10000)),
            reference=local_path(reference) if reference else None,
            embed_reference=str(options.get("embed_reference", "false")).lower() == "true",
            codecs=options.get("codecs", "gzip"),
        )
    elif fmt in ("vcf", "bcf"):
        from hadoop_bam_spark.formats.bcf import parse_bcf_header_text
        from hadoop_bam_spark.formats.vcf import read_vcf_header

        hdr = read_vcf_header(local_path(header_src))
        codec = (sinks._vcf_codec(hdr, compress=True) if fmt == "vcf"
                 else sinks._BcfCodec(parse_bcf_header_text(hdr.text)))
    else:
        codec = {"bed": sinks._bed_codec, "bedgraph": sinks._bedgraph_codec,
                 "gff": sinks._gff_codec}[fmt](compress=True)
    return ShardStreamWriter(local_path(path), codec)
