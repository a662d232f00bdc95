"""``spark.read.format("gff")`` — splittable GFF3 scan (plain, .gz, .bgz).

Third binding of the shared tabix text stack (see sources/bed_source.py
— same split planning, tabix `.tbi`/`.csi` pruning at plan time per
VCFInputFormat.java:388-472, stringency, projection). GFF3 is natively
1-based inclusive, so intervals and Catalyst contig/start predicates
apply with no coordinate conversion.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from hadoop_bam_spark import fs
from hadoop_bam_spark.formats.gff import (
    GFF_SCHEMA,
    VEC_CHUNK_LINES,
    is_header_line,
    parse_gff_chunk,
    parse_gff_line,
)
from hadoop_bam_spark.sources import list_format_files
from hadoop_bam_spark.sources.bam_source import parse_intervals
from hadoop_bam_spark.sources.sam_source import (
    TextRangePartition,
    iter_line_chunks,
    plan_text_splits,
)
from hadoop_bam_spark.sources.vcf_source import (
    BGZFTextPartition,
    WholeGzipPartition,
    _gzip_line_chunks,
    filter_splits_by_csi,
    filter_splits_by_tabix,
    iter_bgzf_owned_line_chunks,
    plan_bgzf_splits,
    sniff_vcf_compression,
)

DEFAULT_SPLIT_SIZE = 32 * 1024 * 1024

GFF_EXTS = (".gff", ".gff3", ".gtf", ".gff.gz", ".gff3.gz", ".gff.bgz",
            ".gff3.bgz", ".gz", ".bgz")


class GFFDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gff"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(GFF_SCHEMA, self.options)[0]

    def reader(self, schema) -> "GFFReader":
        return GFFReader(self.options)

    def streamWriter(self, schema, overwrite):
        from hadoop_bam_spark.streaming.shard_sink import stream_writer

        return stream_writer("gff", self.options)


class GFFReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("gff source requires a path")
        self._split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        self._intervals = (
            parse_intervals(options["intervals"]) if options.get("intervals") else None
        )
        from hadoop_bam_spark.sources import pruned_schema, stringency_option

        self._stringency = stringency_option(options)
        self._schema, self._keep = pruned_schema(GFF_SCHEMA, options)
        self._files = list_format_files(path, *GFF_EXTS)

    _MAX_POS = (1 << 31) - 2

    def pushFilters(self, filters):
        from hadoop_bam_spark.sources import collect_pushed_range

        contigs, lo, hi = collect_pushed_range(filters, "contig", "start")
        if contigs and self._intervals is None:
            self._intervals = [
                (c, lo, hi if hi is not None else self._MAX_POS)
                for c in sorted(contigs)
            ]
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
                        splits = filter_splits_by_tabix(
                            f, splits, self._intervals)
                    elif fs.exists(f + ".csi"):
                        splits = filter_splits_by_csi(
                            f, splits, self._intervals)
                parts.extend(splits)
            else:
                parts.append(WholeGzipPartition(f))
        if not parts:
            from hadoop_bam_spark.sources.bam_source import EmptyPartition

            return [EmptyPartition()]
        return parts

    def read(self, partition) -> Iterator:
        from hadoop_bam_spark.sources.bam_source import EmptyPartition

        if isinstance(partition, EmptyPartition):
            return iter(())
        if isinstance(partition, TextRangePartition):
            chunks = iter_line_chunks(partition)
        elif isinstance(partition, BGZFTextPartition):
            chunks = iter_bgzf_owned_line_chunks(
                partition.path, partition.start_coffset, partition.end_coffset
            )
        else:
            chunks = _gzip_line_chunks(partition.path)
        return self._batches(chunks)

    def _batches(self, chunks):
        from hadoop_bam_spark.formats.vcf_vec import chunk_to_batch, interval_mask
        from hadoop_bam_spark.sources import arrow_schema

        target = arrow_schema(self._schema)
        buf: list[str] = []
        for chunk in chunks:
            buf.extend(l for l in chunk if not is_header_line(l))
            while len(buf) >= VEC_CHUNK_LINES:
                yield from self._chunk_batches(
                    buf[:VEC_CHUNK_LINES], target, chunk_to_batch,
                    interval_mask)
                buf = buf[VEC_CHUNK_LINES:]
        if buf:
            yield from self._chunk_batches(
                buf, target, chunk_to_batch, interval_mask)

    def _chunk_batches(self, chunk, target, chunk_to_batch, interval_mask):
        arrays = parse_gff_chunk(chunk)
        if arrays:
            keep = {f.name for f in self._schema.fields}
            mask = (
                interval_mask(arrays, self._intervals, len(chunk))
                if self._intervals is not None
                else None
            )
            yield chunk_to_batch(
                {k: v for k, v in arrays.items() if k in keep}, target, mask)
            return
        yield from self._scalar_chunk(chunk)

    def _scalar_chunk(self, chunk):
        from hadoop_bam_spark.sources import (
            apply_stringency,
            arrow_batches,
            project_rows,
        )

        intervals = self._intervals
        rows = []
        for line in chunk:
            try:
                row = parse_gff_line(line)
            except ValueError as e:
                apply_stringency(self._stringency, e, "gff")
                continue
            if row is None:
                continue
            if intervals is not None:
                contig, start, end = row[0], row[3], row[4]
                if not any(
                    c == contig and start <= stop and s <= end
                    for c, s, stop in intervals
                ):
                    continue
            rows.append(row)
        yield from arrow_batches(project_rows(iter(rows), self._keep), self._schema)
