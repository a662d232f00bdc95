"""``spark.read.format("vcf")`` — splittable VCF scan (plain, .gz, .bgz).

Format dispatch by extension + content sniff (reference VCFInputFormat.java:
170-197, VCFFormat.java:49-82): BGZF files get block-aligned parallel
splits (the capability the reference needs its BGZFCodec for,
util/BGZFCodec.java:29-71); plain text gets byte-range splits; non-BGZF
gzip falls back to one whole-file split (not splittable, as in
util/BGZFEnhancedGzipCodec.java:41-75).

Interval filtering: ``option("intervals", "20:1-70000")`` applies the
overlap residual per row (reference VCFRecordReader.java:213-219).

Malformed rows: ``option("stringency", "strict"|"lenient"|"silent")``
(default strict; FAILFAST/PERMISSIVE aliases) — the reference's
ValidationStringency handling (VCFRecordReader.java:77-92,180-196).
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass
from typing import Iterator, Optional

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from hadoop_bam_spark import fs
from hadoop_bam_spark.formats import bgzf
from hadoop_bam_spark.formats.vcf import VCF_SCHEMA, parse_vcf_line, read_vcf_header
from hadoop_bam_spark.sources import list_format_files
from hadoop_bam_spark.sources.bam_source import parse_intervals
from hadoop_bam_spark.sources.sam_source import TextRangePartition, plan_text_splits

DEFAULT_SPLIT_SIZE = 32 * 1024 * 1024

VCF_EXTS = (".vcf", ".vcf.gz", ".vcf.bgz", ".vcf.bgzf.gz", ".gz", ".bgz")


@dataclass
class BGZFTextPartition(InputPartition):
    path: str
    start_coffset: int
    end_coffset: int


@dataclass
class WholeGzipPartition(InputPartition):
    path: str


def iter_bgzf_owned_lines(
    path: str, start_coffset: int, end_coffset: int
) -> Iterator[str]:
    """Lines of a BGZF text file owned by the block range, one at a time
    (flattening wrapper over iter_bgzf_owned_line_chunks)."""
    for chunk in iter_bgzf_owned_line_chunks(path, start_coffset, end_coffset):
        yield from chunk


def iter_bgzf_owned_line_chunks(
    path: str, start_coffset: int, end_coffset: int
) -> Iterator[list]:
    """Lines of a BGZF text file owned by the block range
    [start_coffset, end_coffset), in BULK lists (one decode+split per
    block instead of per line).

    Ownership mirrors the plain-text rule (sam_source.iter_lines) at block
    granularity: a non-first split always skips its leading line, so this
    split reads lines whose start block is < end, then finishes the line
    straddling the boundary — and when its last line ends EXACTLY at the
    block boundary it additionally owns the first line of the boundary
    block (the next split can't see backwards to claim it). Inside the
    range every complete line is owned, so whole blocks decode in one
    pass; only the boundary block (at most one line yielded) walks
    per-line."""
    skip_first = start_coffset > 0
    with fs.open_file(path, "rb") as fh:
        pending = b""
        pending_start: Optional[int] = None  # block of pending's first byte
        pending_at_block_start = False  # pending began at uoffset 0
        for coffset, payload in bgzf.iter_blocks(fh, start_coffset):
            if not payload:
                continue
            if coffset >= end_coffset:
                # boundary block: at most the straddle-finishing line (and
                # the exactly-on-boundary bonus line) is owned
                combined = pending + payload
                parts = combined.split(b"\n")
                for i, part in enumerate(parts[:-1]):
                    if i == 0 and pending_start is not None:
                        line_start, at_bs = pending_start, pending_at_block_start
                    else:
                        line_start, at_bs = coffset, (i == 0)
                    if skip_first:
                        skip_first = False
                        continue
                    if line_start < end_coffset or (
                        line_start == end_coffset and at_bs
                    ):
                        yield [part.decode("utf-8", "replace").rstrip("\r")]
                        if line_start >= end_coffset:
                            return
                    else:
                        return
                if len(parts) == 1:
                    if pending_start is None:
                        pending_start, pending_at_block_start = coffset, True
                    pending = combined
                else:
                    pending = parts[-1]
                    if pending:
                        pending_start, pending_at_block_start = coffset, False
                    else:
                        pending_start, pending_at_block_start = None, False
                continue
            # interior block: every complete line starts before end -> owned
            combined = pending + payload
            cut = combined.rfind(b"\n")
            if cut < 0:
                if pending_start is None:
                    pending_start, pending_at_block_start = coffset, True
                pending = combined
                continue
            seg = combined[:cut]
            lines = seg.decode("utf-8", "replace").split("\n")
            if b"\r" in seg:
                lines = [l.rstrip("\r") for l in lines]
            if skip_first:
                skip_first = False
                lines = lines[1:]
            if lines:
                yield lines
            pending = combined[cut + 1 :]
            if pending:
                pending_start, pending_at_block_start = coffset, False
            else:
                pending_start, pending_at_block_start = None, False
        if pending and not skip_first:
            ls = pending_start if pending_start is not None else 0
            if ls < end_coffset or (ls == end_coffset and pending_at_block_start):
                yield [pending.decode("utf-8", "replace").rstrip("\r")]


def plan_bgzf_splits(path: str, split_size: int) -> list[BGZFTextPartition]:
    if fs.exists(path + ".bgzfi"):
        # sidecar block index: pure-lookup split alignment, zero data reads
        # (reference util/BGZFBlockIndex.java + BGZFSplitFileInputFormat)
        with fs.open_file(path + ".bgzfi", "rb") as fh:
            idx = bgzf.BGZFBlockIndex.read(fh)
        splits = bgzf.align_splits_indexed(path, idx, split_size)
        return [
            BGZFTextPartition(s.path, s.start_coffset, s.end_coffset) for s in splits
        ]
    size = fs.file_size(path)

    def read_range(p, start, length):
        with fs.open_file(p, "rb") as fh:
            fh.seek(start)
            return fh.read(length)

    splits = bgzf.align_splits(path, size, split_size, read_range)
    return [BGZFTextPartition(s.path, s.start_coffset, s.end_coffset) for s in splits]


def _gzip_line_chunks(path: str, size: int = 8192) -> Iterator[list]:
    """Whole-file gzip text as bulk line lists (non-splittable fallback)."""
    buf: list[str] = []
    with gzip.open(fs.open_file(path, "rb"), "rt", encoding="utf-8") as fh:
        for l in fh:
            buf.append(l.rstrip("\r\n"))
            if len(buf) >= size:
                yield buf
                buf = []
    if buf:
        yield buf


def filter_splits_by_tabix(path: str, splits, intervals):
    """Drop BGZF splits whose block range cannot contain a record
    overlapping any interval, per the .tbi chunk spans — the reference's
    tabix split filtering (VCFInputFormat.java:388-472), shared by every
    tabix-indexable text source (VCF, BED). The kept splits still
    row-filter (residual), so over-keeping is only a perf cost; block
    ranges are widened by one block to cover boundary-line ownership."""
    from hadoop_bam_spark.formats.tabix import read_tabix

    span = read_tabix(path + ".tbi", open_fn=fs.open_file).span_for_intervals(
        intervals
    )
    if not span:
        return []
    # chunk voffsets -> compressed block ranges [cbeg, cend_exclusive)
    ranges = [
        (vb >> 16, (ve >> 16) + (1 if ve & 0xFFFF else 0)) for vb, ve in span
    ]
    kept = []
    for s in splits:
        # right edge inclusive: a line starting exactly at end_coffset
        # can be owned by this split (bonus-line rule in
        # iter_bgzf_owned_lines), so keep the split for chunks there too
        if any(cb <= s.end_coffset and ce > s.start_coffset for cb, ce in ranges):
            kept.append(s)
    return kept


def filter_splits_by_csi(path: str, splits, intervals):
    """Same split pruning via a tabix-flavored .csi (bcftools index -c
    on .vcf.gz): contig names come from the index's aux block."""
    from hadoop_bam_spark.formats.csi import names_from_aux, read_csi

    idx = read_csi(path + ".csi", open_fn=fs.open_file)
    names = names_from_aux(idx.aux)
    if not names:
        return splits  # aux not tabix-shaped: cannot resolve contigs
    span = idx.span_for_intervals(intervals, names)
    if not span:
        return []
    ranges = [
        (vb >> 16, (ve >> 16) + (1 if ve & 0xFFFF else 0)) for vb, ve in span
    ]
    return [
        s
        for s in splits
        if any(cb <= s.end_coffset and ce > s.start_coffset for cb, ce in ranges)
    ]


def sniff_vcf_compression(path: str) -> str:
    """'plain' | 'bgzf' | 'gzip' (content sniff beats extension)."""
    with fs.open_file(path, "rb") as fh:
        head = fh.read(bgzf.MAX_GUESS_BYTES if fs.file_size(path) < 1 << 16 else 4096)
    if head[:2] == b"\x1f\x8b":
        return "bgzf" if bgzf.is_bgzf(head) else "gzip"
    return "plain"


class VCFDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "vcf"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(VCF_SCHEMA, self.options)[0]

    def reader(self, schema) -> "VCFReader":
        return VCFReader(self.options)

    def streamWriter(self, schema, overwrite):
        from hadoop_bam_spark.streaming.shard_sink import stream_writer

        return stream_writer("vcf", self.options)


class VCFReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("vcf source requires a path")
        self._split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        self._intervals = (
            parse_intervals(options["intervals"]) if options.get("intervals") else None
        )
        from hadoop_bam_spark.sources import pruned_schema, stringency_option

        self._stringency = stringency_option(options)
        self._schema, self._keep = pruned_schema(VCF_SCHEMA, options)
        #: fields to actually parse: the projection, plus end for the
        #: interval residual (lazy genotype/INFO decode — reference
        #: LazyParsingGenotypesContext.java:28-33)
        self._wanted: Optional[frozenset] = None
        if self._keep is not None:
            names = {VCF_SCHEMA.fields[i].name for i in self._keep}
            if self._intervals is not None:
                # the residual filter reads (contig, start, end); the scalar
                # parser always produces contig/start but the vectorized one
                # only builds wanted columns
                names.update(("contig", "start", "end"))
            self._wanted = frozenset(names)
        # per-file VCF-vs-BCF dispatch by extension + content sniff — the
        # reference's multi-format VCF scan (VCFInputFormat.getFormat,
        # VCFInputFormat.java:170-197)
        from hadoop_bam_spark.sources.bcf_source import BCFReader, sniff_bcf

        all_files = list_format_files(path, *(VCF_EXTS + (".bcf",)))
        bcf_files = [f for f in all_files if sniff_bcf(f) is not None]
        self._files = [f for f in all_files if f not in set(bcf_files)]
        self._bcf: Optional[BCFReader] = None
        if bcf_files:
            self._bcf = BCFReader(
                {
                    "path": ",".join(bcf_files),
                    "split_size": str(self._split_size),
                    **({"intervals": options["intervals"]} if options.get("intervals") else {}),
                    **({"columns": options["columns"]} if options.get("columns") else {}),
                }
            )
        # header (and samples) read once on the driver per file
        self._samples = {f: read_vcf_header(f).samples for f in self._files}

    #: max 1-based coordinate the binning scheme supports (int32 bound)
    _MAX_POS = (1 << 31) - 2

    def pushFilters(self, filters):
        """Derive planning-time pruning from Catalyst filters (same policy
        as the BAM source): contig EqualTo/In plus optional start bounds
        synthesize an interval when no intervals option was given, so a
        plain ``.filter(col("contig") == ...)`` gets tabix split pruning.
        Every filter is returned unsupported — Catalyst's residual keeps
        semantics exact (the interval admits a superset: overlap on
        [start, end] vs the start predicate)."""
        from hadoop_bam_spark.sources import collect_pushed_range

        contigs, lo, hi = collect_pushed_range(filters, "contig", "start")
        if contigs and self._intervals is None:
            self._intervals = [
                (c, lo, hi if hi is not None else self._MAX_POS)
                for c in sorted(contigs)
            ]
            if self._wanted is not None:
                # the residual filter reads these (see __init__)
                self._wanted = self._wanted | {"contig", "start", "end"}
        if self._bcf is not None:
            # BCF files in a mixed directory prune through their own reader
            self._bcf.pushFilters(filters)
        return filters

    def partitions(self):
        parts: list[InputPartition] = []
        for f in self._files:
            kind = sniff_vcf_compression(f)
            if kind == "plain":
                parts.extend(plan_text_splits(f, self._split_size, ()))
            elif kind == "bgzf":
                splits = plan_bgzf_splits(f, self._split_size)
                if self._intervals is not None:
                    if fs.exists(f + ".tbi"):
                        splits = self._filter_splits_by_tabix(f, splits)
                    elif fs.exists(f + ".csi"):
                        splits = self._filter_splits_by_csi(f, splits)
                parts.extend(splits)
            else:  # non-BGZF gzip: not splittable
                parts.append(WholeGzipPartition(f))
        if self._bcf is not None:
            parts.extend(self._bcf.partitions())
        if not parts:
            from hadoop_bam_spark.sources.bam_source import EmptyPartition

            return [EmptyPartition()]
        return parts

    def _filter_splits_by_tabix(self, path, splits):
        return filter_splits_by_tabix(path, splits, self._intervals)

    def _filter_splits_by_csi(self, path, splits):
        return filter_splits_by_csi(path, splits, self._intervals)

    def read(self, partition):
        from hadoop_bam_spark.sources.bam_source import EmptyPartition
        from hadoop_bam_spark.sources.bcf_source import (
            BCFBgzfPartition,
            BCFPlainPartition,
        )

        if isinstance(partition, (BCFPlainPartition, BCFBgzfPartition)):
            return self._bcf.read(partition)  # already Arrow batches + pruned
        if isinstance(partition, EmptyPartition):
            return iter(())
        if isinstance(partition, TextRangePartition):
            from hadoop_bam_spark.sources.sam_source import iter_line_chunks

            chunks = iter_line_chunks(partition)
        elif isinstance(partition, BGZFTextPartition):
            chunks = iter_bgzf_owned_line_chunks(
                partition.path, partition.start_coffset, partition.end_coffset
            )
        else:
            chunks = _gzip_line_chunks(partition.path)
        return self._batches(chunks, self._samples[partition.path])

    def _batches(self, chunks, samples):
        """Decode bulk line lists columnar (formats.vcf_vec); any chunk
        the vectorized parser rejects re-parses per-line with the scalar
        path, which applies ValidationStringency exactly as before."""
        from hadoop_bam_spark.formats import vcf_vec
        from hadoop_bam_spark.sources import arrow_schema

        target = arrow_schema(self._schema)
        size = vcf_vec.VEC_CHUNK_LINES
        buf: list[str] = []
        for chunk in chunks:
            buf.extend(l for l in chunk if l and not l.startswith("#"))
            while len(buf) >= size:
                yield from self._chunk_batches(buf[:size], samples, target)
                buf = buf[size:]
        if buf:
            yield from self._chunk_batches(buf, samples, target)

    def _chunk_batches(self, chunk, samples, target):
        from hadoop_bam_spark.formats import vcf_vec

        arrays = vcf_vec.parse_vcf_chunk(chunk, samples, self._wanted)
        if arrays:
            mask = (
                vcf_vec.interval_mask(arrays, self._intervals, len(chunk))
                if self._intervals is not None
                else None
            )
            yield vcf_vec.chunk_to_batch(arrays, target, mask)
            return
        yield from self._scalar_chunk(chunk, samples)

    def _scalar_chunk(self, chunk, samples):
        from hadoop_bam_spark.sources import (
            apply_stringency,
            arrow_batches,
            project_rows,
        )

        intervals = self._intervals
        rows = []
        for line in chunk:
            try:
                row = parse_vcf_line(line, samples, self._wanted)
            except ValueError as e:
                # malformed-row policy (reference VCFRecordReader.java:180-196)
                apply_stringency(self._stringency, e, "vcf")
                continue
            if intervals is not None:
                contig, start, end = row[0], row[1], row[2]
                if not any(
                    c == contig and start <= stop and s <= end
                    for c, s, stop in intervals
                ):
                    continue
            rows.append(row)
        yield from arrow_batches(project_rows(iter(rows), self._keep), self._schema)
