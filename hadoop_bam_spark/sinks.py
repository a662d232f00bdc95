"""Distributed sinks: one part protocol for every file format, batch and
streaming — the reference's sharded-writer + merger contract
(KeyIgnoringBAMOutputFormat.java:48-93, util/SAMFileMerger.java:46-149,
util/VCFFileMerger.java:45-135, util/SAMOutputPreparer.java:61-128).

Each format has ONE part codec (:class:`_Codec`) with four pieces:

- ``head``: the bytes before the first record. For BGZF formats the
  header closes its own block, so records start on a block boundary;
- ``body``: Arrow batches -> record bytes, part-local index stats and a
  record count (the vectorized encoders in ``formats/*_venc.py`` and
  ``formats/*_vec.py``);
- ``tail``: the terminator (BGZF EOF, the CRAM EOF container, or nothing);
- ``sidecars``: index files from ``[(stats, body_size)]`` and a header
  length — the offset-shift merge of SAMFileMerger.java:105-149, so no
  output is re-read (CRAM's ``.crai`` walks the finished file's container
  headers; FASTA's ``.fai`` scans its lines).

Every task writes its partition through :func:`_write_part` to an
attempt-unique staged name, ``attempt-{taskAttemptId}-part-{idx:05d}{ext}``
under ``<path>.__parts__``: a failed, retried or speculative attempt never
shares a file with the attempt whose result the driver keeps, and the
driver only ever reads the staged names the winning attempts returned.

- **Merged** (default): tasks write the body alone; the driver
  concatenates head + the parts in partition order + tail into ``path``
  and builds the sidecars from the offset-shifted part stats. Byte
  concatenation works because BGZF streams concatenate when the parts
  carry no EOF block (BAMRecordWriter.java:128-140).
- **Sharded** (``sharded=True``): tasks write head + body + tail, a
  complete file with the merged file's layout, and build its sidecars
  in-task with the same builder (``header_len = len(head)``). The driver
  renames the shards into the ``path`` directory as
  ``part-{idx:05d}{ext}`` and writes ``_manifest.json`` (format, total
  and per-shard records and bytes). No output byte funnels through the
  driver, and the sources read the directory natively.
- **Streaming** (:mod:`hadoop_bam_spark.streaming.shard_sink`): each
  micro-batch task writes head + body + tail through the same codecs;
  :mod:`hadoop_bam_spark.streaming.shard_commit` commits the shards.

Overwrite semantics: a merged write removes every sidecar of ``path`` that
it did not produce itself (a ``.bai`` left by an earlier write points into
bytes that no longer exist). A sharded write first removes the earlier
``part-*`` shards, their sidecars and ``_manifest.json`` from ``path`` —
the sources list the directory, so a smaller re-write must not leave old
shards readable — and touches no other file there.
"""

from __future__ import annotations

import functools
import shutil
from typing import Optional

from pyspark.sql import DataFrame

from hadoop_bam_spark import fs

from hadoop_bam_spark.formats import bam, bgzf
from hadoop_bam_spark.formats.sam import SAMHeader
from hadoop_bam_spark.formats.splitting_index import DEFAULT_GRANULARITY, SplittingIndex
from hadoop_bam_spark.formats.vcf import VCFHeader, format_vcf_line

SAM_COLS = [
    "qname", "flag", "rname", "pos", "mapq", "cigar",
    "rnext", "pnext", "tlen", "seq", "qual", "tags",
]
VCF_COLS = [
    "contig", "start", "end", "id", "ref", "alts",
    "qual", "filters", "info", "genotypes",
]

#: every index sidecar a source trusts next to a data file
_SIDECARS = (".sbi", ".splitting-bai", ".bai", ".tbi", ".csi", ".crai",
             ".fai", ".bgzfi")


def _bgzf_bytes(data: bytes) -> bytes:
    """``data`` as BGZF blocks without an EOF block (b"" for no data)."""
    import io

    buf = io.BytesIO()
    w = bgzf.BGZFWriter(buf, write_terminator=False)
    w.write(data)
    w.close()
    return buf.getvalue()


def _body_size(w: "bgzf.BGZFWriter") -> int:
    """Compressed bytes a closed writer produced."""
    return w.tell_voffset() >> 16


class _Codec:
    """One file format's part codec (see the module docstring).

    ``cols`` is the column order ``body`` receives; each ``split_maps``
    entry turns a map column into key and value list columns (JVM-side
    ``map_keys``/``map_values`` in batch writes, the MapArray's offsets in
    streaming writes), so no encoder converts Arrow map scalars per row."""

    ext = ""  # shard and staged-part file extension
    fmt = ""  # "format" in the sharded manifest
    head = b""
    tail = b""
    sidecar_exts: tuple = ()
    cols: tuple = ()
    split_maps: dict = {}
    #: array columns sent as [] instead of null: Spark's Arrow writer
    #: spends ~5 µs a row on a null array (measured on a BED frame with
    #: a null ``rest``), and the formatters write both alike
    empty_for_null: tuple = ()

    def select(self, df: DataFrame) -> DataFrame:
        exprs = []
        for c in self.cols:
            if c in self.split_maps:
                k, v = self.split_maps[c]
                exprs += [f"map_keys(`{c}`) as {k}", f"map_values(`{c}`) as {v}"]
            elif c in self.empty_for_null:
                exprs.append(f"coalesce(`{c}`, array()) as `{c}`")
            else:
                exprs.append(f"`{c}`")
        return df.selectExpr(*exprs)

    def arrow_select(self, batch):
        """:meth:`select` for an Arrow batch of the full row schema."""
        import pyarrow as pa

        arrays, names = [], []
        for c in self.cols:
            a = batch.column(c)
            if c not in self.split_maps:
                arrays.append(a)
                names.append(c)
                continue
            if a.offset:  # list offsets with a null mask must start at 0
                a = pa.concat_arrays([a])
            mask = a.is_null()
            for name, vals in zip(self.split_maps[c], (a.keys, a.items)):
                arrays.append(pa.ListArray.from_arrays(a.offsets, vals, mask=mask))
                names.append(name)
        return pa.RecordBatch.from_arrays(arrays, names)

    def body(self, f, batches) -> tuple:
        """Write the records of ``batches`` to ``f``; return
        ``(part-local stats, record count, body bytes)``."""
        raise NotImplementedError

    def sidecars(self, path: str, parts: list, header_len: int) -> None:
        """Write ``path``'s index files from ``[(stats, body_size)]``."""


def _staged_name(ctx, ext: str) -> str:
    """Attempt-unique part name: two attempts of one partition never
    write the same file."""
    return f"attempt-{ctx.taskAttemptId()}-part-{ctx.partitionId():05d}{ext}"


def _write_part(codec: _Codec, staged: str, batches, whole: bool) -> tuple:
    """Executor half of the protocol: one partition's records to
    ``staged`` — the body alone, or head + body + tail when ``whole`` (a
    standalone file). Returns ``(stats, body_size, records)``. A failing
    attempt removes its staged file."""
    try:
        with fs.open_file(staged, "wb") as f:
            if whole:
                f.write(codec.head)
            stats, nrec, size = codec.body(f, batches)
            if whole:
                f.write(codec.tail)
    except BaseException:
        fs.remove(staged)
        raise
    return stats, size, nrec


def _write(df: DataFrame, path: str, codec: _Codec, sharded: bool) -> None:
    """Driver half of the protocol: one ``mapInArrow`` + ``collect`` job
    runs :func:`_write_part` per partition (the result travels back as
    one pickled binary cell), then merges or commits the winning parts."""
    import pickle

    import pyarrow as pa

    parts_dir = path + ".__parts__"
    fs.makedirs(parts_dir)

    def write_task(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        staged = fs.join(parts_dir, _staged_name(ctx, codec.ext))
        stats, size, nrec = _write_part(codec, staged, batches, whole=sharded)
        if sharded:
            codec.sidecars(staged, [(stats, size)], len(codec.head))
        res = (ctx.partitionId(), staged, stats, size, nrec)
        yield pa.RecordBatch.from_arrays(
            [pa.array([pickle.dumps(res)], pa.binary())], ["res"]
        )

    rows = codec.select(df).mapInArrow(write_task, "res binary").collect()
    parts = sorted(
        (pickle.loads(bytes(r["res"])) for r in rows), key=lambda p: p[0]
    )
    if sharded:
        _commit_shards(path, codec, parts)
    else:
        with fs.open_file(path, "wb") as out:
            out.write(codec.head)
            for _, staged, _, _, _ in parts:
                with fs.open_file(staged, "rb") as f:
                    shutil.copyfileobj(f, out)
            out.write(codec.tail)
        for ext in _SIDECARS:
            if ext not in codec.sidecar_exts:
                fs.remove(path + ext)
        codec.sidecars(
            path, [(st, size) for _, _, st, size, _ in parts], len(codec.head)
        )
    fs.remove_tree(parts_dir)


def _commit_shards(path: str, codec: _Codec, parts: list) -> None:
    """Sharded commit: replace the earlier shard set of ``path`` (its
    ``part-*`` files and ``_manifest.json``; nothing else), rename this
    write's shards and sidecars into place, write ``_manifest.json``.
    Rename is a metadata operation on every supported filesystem, so the
    commit moves no data bytes."""
    import json

    fs.makedirs(path)
    try:
        old = fs.listdir(path)
    except OSError:
        old = []
    for name in old:
        if name.startswith("part-") or name == "_manifest.json":
            fs.remove(fs.join(path, name))
    shards = []
    for idx, staged, _, _, nrec in parts:
        name = f"part-{idx:05d}{codec.ext}"
        for ext in ("",) + codec.sidecar_exts:
            fs.rename(staged + ext, fs.join(path, name + ext))
        shards.append({"shard": name, "bytes": fs.file_size(fs.join(path, name)),
                       "records": nrec})
    body = {"shards": shards, "format": codec.fmt,
            "records": sum(s["records"] for s in shards)}
    with fs.open_file(fs.join(path, "_manifest.json"), "wb") as f:
        f.write(json.dumps(body, indent=1).encode())


def _refs_of(header: SAMHeader) -> list[tuple[str, int]]:
    ordered = sorted(header.sequences.items(), key=lambda kv: kv[1][0])
    return [(name, ln) for name, (_, ln) in ordered]


class _BamCodec(_Codec):
    """BAM: bam_venc blobs -> BGZF. Record voffsets (splitting-index
    anchors every ``granularity`` records, BAI chunk spans) are recovered
    analytically AFTER each bulk write from the writer's block table
    (BGZFWriter.voffset_of_u) instead of a tell per record."""

    ext, fmt = ".bam", "bam"
    cols = tuple(SAM_COLS)
    split_maps = {"tags": ("tag_keys", "tag_vals")}

    def __init__(self, header: SAMHeader, refs, granularity: int = DEFAULT_GRANULARITY,
                 index_bai: bool = False, index_splitting_bai: bool = False):
        self.refs, self.granularity, self.index_bai = refs, granularity, index_bai
        self.head = _bgzf_bytes(bam.encode_header(header, refs))
        self.tail = bgzf.BGZF_EOF
        self.sidecar_exts = (
            (".sbi",) + ((".splitting-bai",) if index_splitting_bai else ())
            + ((".bai",) if index_bai else ())
        )

    def body(self, f, batches):
        import numpy as np

        from hadoop_bam_spark.formats.bai import PartIndexStats
        from hadoop_bam_spark.formats.bam_venc import BAMBatchEncoder

        enc = BAMBatchEncoder(self.refs)
        stats = PartIndexStats() if self.index_bai else None
        offsets: list[int] = []
        nrec = 0
        w = bgzf.BGZFWriter(f, write_terminator=False)
        for batch in batches:
            blob, rec_lens, (rid, pos0, end0, mapped) = enc.encode_batch(batch)
            if not len(rec_lens):
                continue
            u0 = w.u_total
            w.write(blob)
            u_starts = u0 + np.concatenate([[0], np.cumsum(rec_lens[:-1])])
            if self.granularity:
                first = (-nrec) % self.granularity
                for i in range(first, len(rec_lens), self.granularity):
                    offsets.append(w.voffset_of_u(int(u_starts[i])))
            if stats is not None:
                u_ends = u_starts + rec_lens
                for i in range(len(rec_lens)):
                    if rid[i] < 0 or pos0[i] < 0:
                        stats.n_no_coor += 1
                        continue
                    stats.add(
                        int(rid[i]), int(pos0[i]), int(end0[i]),
                        bool(mapped[i]),
                        w.voffset_of_u(int(u_starts[i])),
                        w.voffset_of_u(int(u_ends[i])),
                    )
            nrec += len(rec_lens)
        w.close()
        return (offsets, stats), nrec, _body_size(w)

    def sidecars(self, path, parts, header_len):
        sbi = SplittingIndex.merge(
            [(offs, size) for (offs, _), size in parts], header_len, self.granularity
        )
        with fs.open_file(path + ".sbi", "wb") as f:
            sbi.write(f)
        if ".splitting-bai" in self.sidecar_exts:
            with fs.open_file(path + ".splitting-bai", "wb") as f:
                sbi.write_reference_layout(f)
        if self.index_bai:
            from hadoop_bam_spark.formats.bai import bai_from_part_stats

            bai = bai_from_part_stats(
                [(st, size) for (_, st), size in parts], header_len, len(self.refs)
            )
            with fs.open_file(path + ".bai", "wb") as f:
                bai.write(f)


def write_bam(
    df: DataFrame,
    path: str,
    header: SAMHeader,
    refs: Optional[list[tuple[str, int]]] = None,
    index_granularity: int = DEFAULT_GRANULARITY,
    index_bai: bool = False,
    index_splitting_bai: bool = False,
    sharded: bool = False,
) -> None:
    """Write a SAM_SCHEMA DataFrame as one valid BAM file + ``.sbi`` index.

    ``index_bai=True`` additionally builds a ``.bai`` binning index from
    per-part stats accumulated during the executor writes (no post-merge
    re-read; meaningful when ``df`` is coordinate-sorted) so interval reads
    plan index-driven splits (formats/bai.py).
    ``index_splitting_bai=True`` also emits the reference's
    ``.splitting-bai`` layout (big-endian i64 voffsets) so Hadoop-BAM /
    htsjdk can plan splits on our output.

    ``sharded=True`` writes ``path`` as a DIRECTORY of independent,
    complete BAM files (``part-NNNNN.bam`` — own header, own BGZF EOF,
    own per-shard indexes) plus a ``_manifest.json``. This is the 100 TB
    write path: the single-file mode's driver-side byte concatenation —
    the reference's own contract (util/SAMFileMerger.java:46-103) —
    funnels every output byte through one process, which caps write
    throughput at one machine's bandwidth no matter how many executors
    ran. Sharded output never moves data after the executor write (the
    commit step is a same-filesystem rename), and the sources read a
    directory of format files natively, so
    ``spark.read.format("bam").load(dir)`` round-trips with per-shard
    index pruning intact."""
    codec = _BamCodec(header, refs or _refs_of(header), index_granularity,
                      index_bai, index_splitting_bai)
    _write(df, path, codec, sharded)


class _CramCodec(_Codec):
    """CRAM 3.0: Arrow batches accumulate to ``records_per_container``
    rows and each container encodes through the vectorized cram_venc
    column encoder — RR=true when ``reference`` is set (whole-contig numpy
    compare), RR=false verbatim otherwise. A container whose batch shape
    falls outside the fast path (VecUnsupported) degrades to the scalar
    ``cram.encode_container`` for that container only — byte parity
    between the two is property-tested (tests/test_cram_venc.py), so the
    fallback changes speed, never bytes."""

    ext, fmt = ".cram", "cram"
    cols = tuple(SAM_COLS)
    split_maps = {"tags": ("tag_keys", "tag_vals")}

    def __init__(self, header: SAMHeader, refs, records_per_container: int = 30000,
                 records_per_slice: int = 10000, reference: Optional[str] = None,
                 embed_reference: bool = False, codecs: str = "gzip",
                 index_crai: bool = False):
        import io

        from hadoop_bam_spark.formats import cram

        self.refs = refs
        self.rpc, self.rps = records_per_container, records_per_slice
        self.reference, self.embed, self.codecs = reference, embed_reference, codecs
        buf = io.BytesIO()
        cram.write_file_definition(buf)
        self.head = buf.getvalue() + cram.encode_header_container(header.text)
        self.tail = cram.EOF_CONTAINER_V3
        self.sidecar_exts = (".crai",) if index_crai else ()

    def body(self, f, batches):
        import pyarrow as pa

        from hadoop_bam_spark.formats import cram
        from hadoop_bam_spark.formats.cram_venc import CRAMColumnEncoder, VecUnsupported

        ref_index = {name: i for i, (name, _) in enumerate(self.refs)}
        ref_names = [name for name, _ in self.refs]
        ref_fasta = (
            cram.FastaRef(self.reference, open_fn=fs.open_file)
            if self.reference else None
        )
        enc = CRAMColumnEncoder(
            ref_index, ref_fasta=ref_fasta, ref_names=ref_names,
            embed_reference=self.embed, codecs=self.codecs,
        )

        def scalar_rows(tbl):
            cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            for vals in zip(*cols):
                yield vals[:11] + (dict(zip(vals[11] or (), vals[12] or ())),)

        counter = size = 0

        def flush(tbl):
            nonlocal counter, size
            try:
                blob = enc.encode_container(
                    tbl, counter, records_per_slice=self.rps
                )
            except VecUnsupported:
                blob = cram.encode_container(
                    list(scalar_rows(tbl)), ref_index, counter,
                    ref_fasta=ref_fasta, ref_names=ref_names,
                    records_per_slice=self.rps,
                    embed_reference=self.embed, codecs=self.codecs,
                )
            f.write(blob)
            size += len(blob)
            counter += tbl.num_rows

        pend: list = []
        pend_rows = 0
        for batch in batches:
            pend.append(batch)
            pend_rows += batch.num_rows
            while pend_rows >= self.rpc:
                tbl = pa.Table.from_batches(pend)
                flush(tbl.slice(0, self.rpc))
                rest = tbl.slice(self.rpc)
                pend = rest.to_batches() if rest.num_rows else []
                pend_rows = rest.num_rows
        if pend_rows:
            flush(pa.Table.from_batches(pend))
        return None, counter, size

    def sidecars(self, path, parts, header_len):
        """``.crai`` from a header-only container walk of the finished
        file (the source plans splits and prunes intervals from it)."""
        if self.sidecar_exts:
            from hadoop_bam_spark.formats import crai

            crai.write_crai(crai.build_crai(path, open_fn=fs.open_file),
                            path + ".crai", open_fn=fs.open_file)


def write_cram(
    df: DataFrame,
    path: str,
    header: SAMHeader,
    refs: Optional[list[tuple[str, int]]] = None,
    records_per_container: int = 30000,
    reference: Optional[str] = None,
    index_crai: bool = False,
    records_per_slice: int = 10000,
    sharded: bool = False,
    embed_reference: bool = False,
    codecs: str = "gzip",
) -> None:
    """Write a SAM_SCHEMA DataFrame as one valid CRAM 3.0 file.

    ``sharded=True``: ``path`` becomes a DIRECTORY of complete standalone
    CRAMs (``part-NNNNN.cram`` — own file definition, header container and
    EOF; per-shard ``.crai`` when ``index_crai``) plus ``_manifest.json``
    — same no-driver-byte-funnel rationale as ``write_bam(sharded=True)``.

    Containers hold up to ``records_per_container`` records in slices of
    ``records_per_slice`` (the samtools/htsjdk multi-slice layout); the
    ``.crai`` indexes per SLICE, so interval pruning stays fine-grained.

    Executors emit bare container shards (no file definition / header /
    EOF); the driver concatenates them behind one file definition + SAM
    header container and appends the fixed EOF container — the reference's
    sharded CRAM write + merge contract (CRAMRecordWriter.java:74-121 with
    writeHeader=false, util/SAMFileMerger.java:92-103).

    ``reference``: path to a FASTA (visible to every executor). When given,
    containers are reference-compressed (RR=true, htsjdk's default — only
    mismatching bases are stored) and reading the output requires the same
    reference. Without it, sequences go verbatim (RR=false, htslib's
    ``no_ref`` shape) and no FASTA is needed to read.

    ``embed_reference`` (with ``reference``): each single-reference slice
    additionally carries its [aln_min, aln_max] reference window as an
    embedded block (spec §8.5), so READERS need no FASTA — the
    self-contained archive shape. Multiref slices (records spanning
    contigs — unsorted input) have no single window, so their records
    encode verbatim instead; the self-contained guarantee holds either
    way, reference compression just degrades where the input isn't
    coordinate-grouped. Costs the window bytes per slice
    (gzip-compressed; cheap for coordinate-sorted data where slices are
    dense).

    ``codecs="auto"``: quality/flag-class data series are additionally
    offered to the rANS-4x8 order-0 codec (what htsjdk emits for these
    series) and each block keeps whichever measures smaller — typically
    10-20% off the qual-dominated file size, at a write-throughput cost
    (the pure-Python rANS encoder runs ~3.5 MB/s/task; see
    FORMAT_BENCH.md r9). Readers need htslib-compatible rANS decode
    (this engine's reader, samtools, htsjdk all qualify). Default stays
    gzip: write speed is the sink's headline contract."""
    codec = _CramCodec(header, refs or _refs_of(header), records_per_container,
                       records_per_slice, reference, embed_reference, codecs,
                       index_crai)
    _write(df, path, codec, sharded)


def write_any_sam(
    df: DataFrame,
    path: str,
    header: SAMHeader,
    refs: Optional[list[tuple[str, int]]] = None,
    format: Optional[str] = None,
    sharded: bool = False,
) -> None:
    """Dispatch a SAM_SCHEMA write to the BAM / SAM / CRAM sink by explicit
    ``format`` or by the path's extension — the reference's any-SAM output
    dispatch (KeyIgnoringAnySAMOutputFormat.java:93-127, which picks the
    writer from the configured SAMFormat / output path)."""
    fmt = (format or "").lower()
    if not fmt:
        lower = path.lower()
        for ext in ("bam", "sam", "cram"):
            if lower.endswith("." + ext):
                fmt = ext
                break
    if fmt == "bam":
        write_bam(df, path, header, refs=refs, sharded=sharded)
    elif fmt == "cram":
        write_cram(df, path, header, refs=refs, sharded=sharded)
    elif fmt == "sam":
        write_sam(df, path, header, sharded=sharded)
    else:
        raise ValueError(
            f"cannot infer SAM output format for {path!r}; pass format="
        )


class _TextCodec(_Codec):
    """Line-oriented formats: ``chunk_fn(batch)`` returns the batch's
    newline-terminated lines; BGZF-compressed when ``compress``.

    ``tabix=(preset, span_fn)`` accumulates ``.tbi`` stats while writing:
    ``span_fn(batch)`` gives each record's (contig, beg0, end0) and the
    record voffsets come from the newline positions in the formatted
    chunk, the way the BAM codec takes them from ``rec_lens``. ``preset``
    is the tabix (format, seq, begin, end) column preset."""

    def __init__(self, fmt: str, ext: str, cols, chunk_fn, compress: bool,
                 header: str = "", tabix=None, split_maps=None, empty_for_null=()):
        self.fmt, self.cols, self.chunk_fn = fmt, tuple(cols), chunk_fn
        self.ext = ext + (".bgz" if compress else "")
        self.split_maps, self.empty_for_null = split_maps or {}, empty_for_null
        self.compress, self.tabix = compress, tabix
        self.head = _bgzf_bytes(header.encode()) if compress else header.encode()
        self.tail = bgzf.BGZF_EOF if compress else b""
        self.sidecar_exts = (".tbi",) if tabix else ()

    def body(self, f, batches):
        from hadoop_bam_spark.formats.bai import PartIndexStats

        w = bgzf.BGZFWriter(f, write_terminator=False) if self.compress else None
        stats = PartIndexStats() if self.tabix else None
        nrec = size = 0
        for batch in batches:
            blob = self.chunk_fn(batch)
            nrec += batch.num_rows
            if w is None:
                f.write(blob)
                size += len(blob)
                continue
            u0 = w.u_total
            w.write(blob)
            if stats is not None and batch.num_rows:
                self._index(stats, w, batch, blob, u0)
        if w is not None:
            w.close()
            size = _body_size(w)
        return stats, nrec, size

    def _index(self, stats, w, batch, blob: bytes, u0: int) -> None:
        import numpy as np

        keys, beg0, end0 = self.tabix[1](batch)
        nl = np.flatnonzero(np.frombuffer(blob, np.uint8) == 10)
        if len(nl) != len(keys):
            raise ValueError(f"{self.fmt} record text contains a newline")
        ends = u0 + nl + 1
        starts = np.concatenate([[u0], ends[:-1]])
        vof = w.voffset_of_u
        for key, b, e, s, t in zip(keys, beg0.tolist(), end0.tolist(),
                                   starts.tolist(), ends.tolist()):
            stats.add(key, b, e, True, vof(s), vof(t))

    def sidecars(self, path, parts, header_len):
        if not self.tabix:
            return
        from hadoop_bam_spark.formats.bai import merge_part_stats
        from hadoop_bam_spark.formats.tabix import TabixIndex, write_tabix

        # contig order of first appearance across the parts
        names = list(dict.fromkeys(k for st, _ in parts for k in st.order))
        merged = merge_part_stats(parts, header_len, names)
        merged.pop("__n_no_coor__")
        write_tabix(TabixIndex(names, [merged[n] for n in names],
                               *self.tabix[0], ord("#"), 0, 0),
                    path + ".tbi", open_fn=fs.open_file)


def _contigs(batch) -> list:
    """The contig column as Python strs, converted once per distinct
    name (``to_pylist`` on the column costs ~1 µs a row)."""
    import pyarrow.compute as pc

    d = pc.dictionary_encode(batch.column("contig"))
    names = d.dictionary.to_pylist()
    return [names[i] for i in d.indices.to_numpy(zero_copy_only=False).tolist()]


def _col_np(batch, name: str):
    import numpy as np

    return np.asarray(batch.column(name).to_numpy(zero_copy_only=False), np.int64)


def _vcf_span(batch):
    """VCF record span: POS .. POS + len(REF), at least one base."""
    import numpy as np
    import pyarrow.compute as pc

    beg0 = _col_np(batch, "start") - 1
    ref_len = np.asarray(pc.utf8_length(pc.fill_null(batch.column("ref"), "N")),
                         np.int64)
    return _contigs(batch), beg0, beg0 + np.maximum(ref_len, 1)


def _zero_based_span(batch):
    """BED/bedGraph span: zero-length features (end == start-1,
    insertion points) bin as length 1, the tabix convention."""
    import numpy as np

    beg0 = _col_np(batch, "start") - 1
    return _contigs(batch), beg0, np.maximum(_col_np(batch, "end"), beg0 + 1)


def _gff_span(batch):
    return _contigs(batch), _col_np(batch, "start") - 1, _col_np(batch, "end")


def _compress_default(path: str, compress, index_tbi: bool, sharded: bool) -> bool:
    if compress is None:
        # a sharded directory path carries no extension signal
        compress = sharded or path.endswith((".gz", ".bgz"))
    if index_tbi and not compress:
        # fail fast, before any part is written
        raise ValueError("tabix index requires BGZF-compressed output")
    return compress


def write_sam(df: DataFrame, path: str, header: SAMHeader,
              sharded: bool = False) -> None:
    from hadoop_bam_spark.formats import sam_vec

    _write(df, path, _TextCodec("sam", ".sam", SAM_COLS, sam_vec.format_sam_chunk,
                                False, header.text), sharded)


def _ensure_vcf_samples(df: DataFrame, header: VCFHeader) -> VCFHeader:
    """Header/data consistency guard: when the caller's header carries no
    sample list but the DataFrame has genotypes, derive the samples from
    the first genotyped row (one tiny driver job). Without this the
    written header claims 0 samples while records carry N — text output
    silently drops genotype columns, and the BCF split guesser (whose
    strongest filter is the header sample count) rejects every record of
    every non-first split: silent data loss."""
    from pyspark.sql import functions as F

    if header.samples or "genotypes" not in df.columns:
        return header
    row = df.select("genotypes").where(F.size("genotypes") > 0).first()
    if row is None:
        return header
    patched = VCFHeader()
    patched.lines = list(header.lines)
    patched.contigs = dict(header.contigs)
    patched.samples = [g["sample"] for g in row[0]]
    return patched


def _vcf_chunk(samples, batch) -> bytes:
    from hadoop_bam_spark.formats import vcf_vec

    out = vcf_vec.format_vcf_chunk(batch, samples)
    if out is None:  # ragged genotype shapes -> per-row formatter
        out = "".join(
            format_vcf_line(r, samples) + "\n" for r in _vcf_batch_rows(batch)
        ).encode("utf-8", "surrogateescape")
    return out


def _vcf_codec(header: VCFHeader, compress: bool, index_tbi: bool = False) -> _TextCodec:
    from hadoop_bam_spark.formats.tabix import FMT_VCF

    return _TextCodec(
        "vcf", ".vcf", VCF_COLS, functools.partial(_vcf_chunk, header.samples),
        compress, header.text,
        tabix=((FMT_VCF, 1, 2, 0), _vcf_span) if index_tbi else None,
    )


def write_vcf(
    df: DataFrame, path: str, header: VCFHeader, compress: Optional[bool] = None,
    index_tbi: bool = False, sharded: bool = False,
) -> None:
    """Write a VCF_SCHEMA DataFrame as one valid VCF (.vcf or BGZF .vcf.bgz —
    default by extension, reference KeyIgnoringVCFOutputFormat.java:93-114).

    ``index_tbi=True`` (BGZF output only) builds a ``.tbi`` tabix index
    from per-part stats accumulated in the executors (meaningful when
    ``df`` is coordinate-sorted) so interval reads prune splits at plan
    time (formats/tabix.py).

    ``sharded=True``: ``path`` becomes a DIRECTORY of complete standalone
    VCFs (``part-NNNNN.vcf`` / ``.vcf.bgz`` — own header, own BGZF EOF,
    per-shard ``.tbi`` when ``index_tbi``) plus a ``_manifest.json`` —
    same rationale as ``write_bam(sharded=True)``: no output byte ever
    funnels through the driver, the commit is a rename, and the VCF
    source reads the directory natively."""
    compress = _compress_default(path, compress, index_tbi, sharded)
    header = _ensure_vcf_samples(df, header)
    _write(df, path, _vcf_codec(header, compress, index_tbi), sharded)


def _vcf_batch_rows(batch):
    """Arrow batch -> VCF_SCHEMA tuples for the scalar fallbacks of BOTH
    the text-VCF formatter and the BCF encoder (map columns come back
    from to_pylist as [(k, v), ...] pair lists and must be dicts).

    A null per-genotype fields map becomes ``{}``: ``format_vcf_line``
    iterates ``g[2]`` directly (None would TypeError), and the BCF
    ``encode_indiv`` treats None and ``{}`` identically (``g[2] or {}``),
    so the substitution is byte-neutral there. (r9: this function was
    accidentally defined twice with the two semantics; the None-mapping
    copy shadowed this one and left the text fallback crashable.)"""
    cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
    for t in zip(*cols):
        (contig, start, end, vid, ref, alts, qual, filters, info, gts) = t
        yield (
            contig, start, end, vid, ref, alts, qual, filters,
            dict(info) if info is not None else None,
            [
                (g["sample"], g["gt"], dict(g["fields"]) if g["fields"] is not None else {})
                for g in gts
            ]
            if gts is not None
            else None,
        )


class _BcfCodec(_Codec):
    """BGZF BCF2: bcf_venc blobs -> BGZF. A batch whose shape falls
    outside the vectorized fast path (VecUnsupported) degrades to the
    scalar per-record encoder for that batch only — same contract as the
    BCF read path. With ``index_csi`` the per-record CSI stats accumulate
    INLINE from the encoder's (rid, beg0, end0) arrays and the writer's
    analytic voffsets — no post-merge re-decode of the output."""

    ext, fmt = ".bcf", "bcf"
    cols = tuple(VCF_COLS)

    def __init__(self, bhdr, index_csi: bool = False):
        from hadoop_bam_spark.formats import bcf as bcfmod

        self.bhdr, self.index_csi = bhdr, index_csi
        self.head = _bgzf_bytes(bcfmod.encode_header(bhdr))
        self.tail = bgzf.BGZF_EOF
        self.sidecar_exts = (".csi",) if index_csi else ()

    def body(self, f, batches):
        import numpy as np

        from hadoop_bam_spark.formats import bcf as bcfmod
        from hadoop_bam_spark.formats.bam_venc import reg2bin_vec
        from hadoop_bam_spark.formats.bcf_venc import BCFBatchEncoder, VecUnsupported
        from hadoop_bam_spark.formats.csi import CSIPartStats

        bhdr = self.bhdr
        enc = BCFBatchEncoder(bhdr)
        # default 14/5 == reg2bin_vec's scheme
        stats = CSIPartStats() if self.index_csi else None
        nrec = 0
        w = bgzf.BGZFWriter(f, write_terminator=False)
        for batch in batches:
            try:
                blob, rec_lens, (rid, beg0, end0) = enc.encode_batch(batch)
                u0 = w.u_total
                w.write(blob)
                nrec += len(rec_lens)
                if stats is not None and len(rec_lens):
                    u_starts = u0 + np.concatenate([[0], np.cumsum(rec_lens[:-1])])
                    u_ends = u_starts + rec_lens
                    bins = reg2bin_vec(beg0, end0)
                    vof = w.voffset_of_u
                    for i in range(len(rec_lens)):
                        stats.add(int(rid[i]), int(bins[i]),
                                  vof(int(u_starts[i])), vof(int(u_ends[i])))
            except VecUnsupported:
                for row in _vcf_batch_rows(batch):
                    u0 = w.u_total
                    rec = bcfmod.encode_record(row, bhdr)
                    w.write(rec)
                    nrec += 1
                    if stats is not None:
                        stats.add_record(
                            bhdr.contig_index[row[0]], row[1] - 1, row[2],
                            w.voffset_of_u(u0), w.voffset_of_u(u0 + len(rec)),
                        )
        pend = w.voffset_of_u(w.u_total)
        w.close()
        size = _body_size(w)
        if stats is not None:
            stats.remap_part_end(pend, size << 16)
        return stats, nrec, size

    def sidecars(self, path, parts, header_len):
        if self.index_csi:
            from hadoop_bam_spark.formats import csi

            idx = csi.csi_from_part_stats(parts, header_len, len(self.bhdr.contigs))
            csi.write_csi(idx, path + ".csi", open_fn=fs.open_file)


def write_bcf(df: DataFrame, path: str, header: "VCFHeader",
              index_csi: bool = False, sharded: bool = False) -> None:
    """Write a VCF_SCHEMA DataFrame as one valid BGZF-compressed BCF2 file:
    headerless BGZF parts on executors, driver concat behind the header
    block, BGZF terminator appended last (reference BCFRecordWriter close
    semantics, BCFRecordWriter.java:165-193).

    ``index_csi=True`` builds a ``.csi`` binning index from the per-part
    stats accumulated during the executor writes (meaningful when ``df``
    is coordinate-sorted) so interval reads prune BGZF splits at plan
    time (formats/csi.py).

    ``sharded=True``: ``path`` becomes a DIRECTORY of complete standalone
    BCFs (own header block + BGZF EOF, per-shard ``.csi`` when
    ``index_csi``) plus ``_manifest.json`` — same no-driver-byte-funnel
    rationale as ``write_bam(sharded=True)``."""
    from hadoop_bam_spark.formats import bcf as bcfmod

    header = _ensure_vcf_samples(df, header)
    codec = _BcfCodec(bcfmod.parse_bcf_header_text(header.text), index_csi)
    _write(df, path, codec, sharded)


def _synthesize_name(r) -> str:
    """Illumina id from metadata when name is absent
    (reference FastqOutputFormat.java:92-115)."""
    if r.name:
        return r.name
    return (
        f"{r.instrument or ''}:{r.run_number or ''}:{r.lane or ''}:"
        f"{r.tile or ''}:{r.xpos or ''}:{r.ypos or ''}"
        f"/{r.read or 1}"
    )


FASTQ_COLS = [
    "name", "sequence", "quality", "instrument", "run_number", "flowcell_id",
    "lane", "tile", "xpos", "ypos", "read", "filter_passed", "control_number",
    "index_sequence",
]


def _opt_str(col, zero_empty: bool = True):
    """int/str column -> string with the scalar writers' `x or ''` falsy
    rule (null AND 0/'' -> '')."""
    import pyarrow as pa
    import pyarrow.compute as pc

    s = pc.fill_null(pc.cast(col, pa.string()), "")
    if zero_empty:
        s = pc.if_else(pc.equal(s, "0"), pa.scalar(""), s)
    return s


def _fastq_chunk(batch) -> bytes:
    """FASTQ_SCHEMA RecordBatch -> 4-line records (vectorized write path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
    synth = pc.binary_join_element_wise(
        _opt_str(col["instrument"], zero_empty=False),
        _opt_str(col["run_number"]),
        _opt_str(col["lane"]),
        _opt_str(col["tile"]),
        _opt_str(col["xpos"]),
        _opt_str(col["ypos"]),
        ":",
    )
    read_s = pc.fill_null(pc.cast(col["read"], pa.string()), "1")
    read_s = pc.if_else(pc.equal(read_s, "0"), pa.scalar("1"), read_s)
    synth = pc.binary_join_element_wise(synth, read_s, "/")
    name = pc.fill_null(col["name"], "")
    name = pc.if_else(pc.equal(name, ""), synth, name)
    rec = pc.binary_join_element_wise(
        pc.binary_join_element_wise(pa.scalar("@"), name, ""),
        pc.fill_null(col["sequence"], ""),
        pa.scalar("+"),
        pc.fill_null(col["quality"], ""),
        "\n",
    )
    n = len(rec)
    if not n:
        return b""
    import pyarrow as _pa

    blob = pc.binary_join(
        _pa.ListArray.from_arrays(_pa.array([0, n], _pa.int32()), rec),
        pa.scalar("\n"),
    )[0].as_py()
    return (blob + "\n").encode("utf-8", "surrogateescape")


def _bed_codec(compress: bool, index_tbi: bool = False) -> _TextCodec:
    from hadoop_bam_spark.formats.bed import BED_COLS, format_bed_chunk
    from hadoop_bam_spark.formats.tabix import FMT_ZERO_BASED

    return _TextCodec(
        "bed", ".bed", BED_COLS, format_bed_chunk, compress,
        tabix=((FMT_ZERO_BASED, 1, 2, 3), _zero_based_span) if index_tbi else None,
        empty_for_null=("rest",),
    )


def write_bed(
    df: DataFrame, path: str, compress: bool | None = None,
    index_tbi: bool = False, sharded: bool = False,
) -> None:
    """Write a BED_SCHEMA DataFrame as one BED file (.bed or BGZF
    .bed.bgz — default by extension), converting the engine's 1-based
    inclusive intervals back to BED's 0-based half-open on the rim
    (formats/bed.py). ``index_tbi=True`` (BGZF only) builds a ``.tbi``
    with the BED tabix preset (0-based flag, columns 1/2/3) from
    per-part stats accumulated in the executors — same no-post-merge-
    re-read shape as ``write_vcf``. ``sharded=True`` emits a directory
    of standalone shards (per-shard ``.tbi`` when requested) plus a
    manifest; no output byte funnels through the driver."""
    compress = _compress_default(path, compress, index_tbi, sharded)
    _write(df, path, _bed_codec(compress, index_tbi), sharded)


def _gff_chunk(batch) -> bytes:
    """Arrow RecordBatch (GFF_COLS order, the attributes map split into
    ``attr_keys`` / ``attr_vals`` list columns) -> newline-terminated
    GFF3 lines, byte-identical to ``formats.gff.format_gff_line`` per row
    (parity-tested). The attribute text is joined column-wise: a
    ``to_pylist`` of the batch cost ~18 µs a row, mostly the lists."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from hadoop_bam_spark.formats.gff import _score_text

    n = batch.num_rows
    if n == 0:
        return b""
    col = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}

    def dot(c) -> pa.Array:
        return pc.fill_null(pc.cast(c, pa.string()), ".")

    keys, vals = col["attr_keys"], col["attr_vals"]
    lens = pc.fill_null(pc.list_value_length(keys), 0)
    pairs = pc.binary_join_element_wise(
        pc.list_flatten(keys), pc.list_flatten(vals), "=",
        null_handling="replace", null_replacement="None",  # f"{k}={None}"
    )
    offsets = pa.array(np.concatenate([[0], np.cumsum(lens)]), pa.int32())
    attrs = pc.if_else(
        pc.greater(lens, 0),
        pc.binary_join(pa.ListArray.from_arrays(offsets, pairs), ";"),
        pa.scalar("."),
    )
    score = pa.array([_score_text(s) for s in col["score"].to_pylist()],
                     pa.string())
    lines = pc.binary_join_element_wise(
        pc.cast(col["contig"], pa.string()), dot(col["source"]),
        dot(col["type"]), pc.cast(col["start"], pa.string()),
        pc.cast(col["end"], pa.string()), score, dot(col["strand"]),
        dot(col["phase"]), attrs, "\t",
    )
    blob = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, n], pa.int32()), lines),
        pa.scalar("\n"),
    )[0].as_py()
    return (blob + "\n").encode()


def _gff_codec(compress: bool, index_tbi: bool = False) -> _TextCodec:
    from hadoop_bam_spark.formats.gff import GFF_COLS

    return _TextCodec(
        "gff", ".gff3", GFF_COLS, _gff_chunk, compress, "##gff-version 3\n",
        tabix=((0, 1, 4, 5), _gff_span) if index_tbi else None,
        split_maps={"attributes": ("attr_keys", "attr_vals")},
    )


def write_gff(
    df: DataFrame, path: str, compress: bool | None = None,
    index_tbi: bool = False, sharded: bool = False,
) -> None:
    """Write a GFF_SCHEMA DataFrame as GFF3 text (.gff3 or BGZF
    .gff3.bgz — default by extension; emits the ``##gff-version 3``
    directive). ``index_tbi=True`` builds a ``.tbi`` with the GFF
    preset (generic/1-based, columns 1/4/5) from executor-accumulated
    stats; ``sharded=True`` writes a directory of standalone shards —
    same shapes as ``write_bed``."""
    compress = _compress_default(path, compress, index_tbi, sharded)
    _write(df, path, _gff_codec(compress, index_tbi), sharded)


def write_fastq(df: DataFrame, path: str, sharded: bool = False) -> None:
    _write(df, path, _TextCodec("fastq", ".fastq", FASTQ_COLS, _fastq_chunk, False),
           sharded)


_P33_TO_P64 = bytes(
    max(64, min(126, q + 31)) if 33 <= q <= 95 else q for q in range(256)
)


class _FastaCodec(_Codec):
    """FASTA sections: a ``>name`` line wherever the contig changes, then
    the sequence lines (the rows arrive contig-grouped, pos-sorted)."""

    ext = ".fa"
    cols = ("contig", "pos", "seq")

    def __init__(self, index_fai: bool):
        self.sidecar_exts = (".fai",) if index_fai else ()

    def body(self, f, batches):
        cur, nrec, size = None, 0, 0
        for batch in batches:
            out = []
            for contig, seq in zip(batch.column("contig").to_pylist(),
                                   batch.column("seq").to_pylist()):
                if contig != cur:
                    out.append(f">{contig}\n")
                    cur = contig
                out.append(seq + "\n")
            blob = "".join(out).encode()
            f.write(blob)
            size += len(blob)
            nrec += batch.num_rows
        return None, nrec, size

    def sidecars(self, path, parts, header_len):
        if self.sidecar_exts:
            build_fai(path, path + ".fai")


def write_fasta(df: DataFrame, path: str, index_fai: bool = True) -> None:
    """Write a FASTA_SCHEMA DataFrame (contig, pos, seq) as one FASTA file.

    Hash-repartitioning on contig puts every line of a contig in exactly one
    part, so each executor emits self-contained ``>name`` sections and the
    driver merge is a plain concatenation (section order across parts is
    arbitrary — FASTA imposes none). ``index_fai=True`` adds a faidx sidecar
    so the fasta source plans one split per contig (requires the fixed line
    width faidx assumes; reference model ReferenceFragment.java:36-41)."""
    prepared = df.repartition("contig").sortWithinPartitions("contig", "pos")
    _write(prepared, path, _FastaCodec(index_fai), sharded=False)


def scan_fai_entries(
    path: str, stringency: str = "strict"
) -> list[tuple[str, int, int, int, int]]:
    """One sequential pass over a FASTA -> faidx entries (name, length,
    offset, linebases, linewidth) — the samtools faidx scan.

    Handles CRLF line endings (bases exclude the ``\\r``, linewidth includes
    it — htslib parity) and a final line without a trailing newline.

    faidx's offset arithmetic is only valid when every sequence line of a
    contig except the LAST has identical width; htslib REFUSES to index
    such files ("different line length"), as it does for blank lines inside
    a sequence. ``stringency`` controls the same situations here: strict
    raises ValueError, lenient warns to stderr and keeps the first line's
    width (our line-sequential readers stay exact; only foreign
    faidx-arithmetic consumers of the persisted sidecar would misseek),
    silent continues quietly.
    """
    from hadoop_bam_spark.sources import apply_stringency

    rows: list[tuple[str, int, int, int, int]] = []
    with fs.open_file(path, "rb") as fh:
        name, length, offset, linebases, linewidth = None, 0, 0, 0, 0
        pos = 0
        irregular = False  # previous seq line of this contig was short/long
        blank_seen = False  # blank line inside this contig's sequence
        for raw in fh:
            if raw.startswith(b">"):
                if name is not None:
                    rows.append((name, length, offset, linebases, linewidth))
                name = raw[1:].split()[0].decode()
                length, linebases, linewidth = 0, 0, 0
                offset = pos + len(raw)
                irregular = blank_seen = False
            elif name is not None and raw.strip():
                if irregular:
                    apply_stringency(
                        stringency,
                        ValueError(
                            f"{path}: contig {name!r} has sequence lines of "
                            "different length before the last — faidx offset "
                            "arithmetic is invalid for this file (htslib "
                            "refuses to index it)"
                        ),
                        "fasta faidx scan",
                    )
                    irregular = False  # lenient/silent: report once per run
                if blank_seen:
                    apply_stringency(
                        stringency,
                        ValueError(
                            f"{path}: contig {name!r} has a blank line inside "
                            "its sequence (htslib refuses to index this)"
                        ),
                        "fasta faidx scan",
                    )
                    blank_seen = False
                bases = len(raw.strip())
                if linebases == 0:
                    linebases, linewidth = bases, len(raw)
                elif bases != linebases:
                    # legal ONLY as the contig's final line — flag and
                    # report if another sequence line follows
                    irregular = True
                length += bases
            elif name is not None and not raw.strip():
                blank_seen = True
            pos += len(raw)
        if name is not None:
            rows.append((name, length, offset, linebases, linewidth))
    return rows


def build_fai(path: str, fai_path: str) -> None:
    """samtools-faidx layout: name, length, offset, linebases, linewidth."""
    rows = scan_fai_entries(path)
    with fs.open_file(fai_path, "w") as out:
        for r in rows:
            out.write("\t".join(str(x) for x in r) + "\n")


def _qseq_chunk(batch) -> bytes:
    """FASTQ_SCHEMA RecordBatch -> QSEQ lines (vectorized write path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from hadoop_bam_spark.sources.qseq_source import translate_string_array

    col = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}

    def num(c, default="0"):
        s = pc.fill_null(pc.cast(col[c], pa.string()), default)
        if default != "0":
            s = pc.if_else(pc.equal(s, "0"), pa.scalar(default), s)
        return s

    qual = translate_string_array(
        pc.fill_null(col["quality"], "").combine_chunks()
        if isinstance(col["quality"], pa.ChunkedArray)
        else pc.fill_null(col["quality"], ""),
        _P33_TO_P64,
    )
    idx = pc.fill_null(col["index_sequence"], "0")
    idx = pc.if_else(pc.equal(idx, ""), pa.scalar("0"), idx)
    line = pc.binary_join_element_wise(
        pc.fill_null(col["instrument"], ""),
        num("run_number"),
        num("lane"),
        num("tile"),
        num("xpos"),
        num("ypos"),
        idx,
        num("read", default="1"),
        pc.replace_substring(pc.fill_null(col["sequence"], ""), "N", "."),
        qual,
        pc.if_else(
            pc.fill_null(col["filter_passed"], False), pa.scalar("1"), pa.scalar("0")
        ),
        "\t",
    )
    n = len(line)
    if not n:
        return b""
    blob = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, n], pa.int32()), line),
        pa.scalar("\n"),
    )[0].as_py()
    return (blob + "\n").encode("utf-8", "surrogateescape")


def write_qseq(df: DataFrame, path: str, sharded: bool = False) -> None:
    """Inverse of the qseq source: N->'.', Sanger->Illumina quality
    (reference QseqOutputFormat.java:98-157)."""
    _write(df, path, _TextCodec("qseq", ".qseq", FASTQ_COLS, _qseq_chunk, False),
           sharded)


def write_parquet_reads(
    df: DataFrame,
    path: str,
    partition_col: str = "rname",
    sort_cols: tuple[str, ...] = ("pos",),
    range_partitions: Optional[int] = None,
) -> None:
    """Materialize an alignment DataFrame as contig-partitioned, coordinate-
    sorted Parquet — the land-once/query-columnar pattern for repeated
    analysis at scale.

    The binary formats exist for interchange; repeated querying of 100 TB
    wants a columnar layout where Catalyst gets partition pruning (interval
    predicates on the contig hit only that contig's directory), row-group
    min/max skipping on ``pos`` (rows arrive sorted), and column pruning for
    free — the "converted Parquet" disposition SURVEY.md §1.5/§2.3 assigns
    to the reference's lazy-decode machinery.

    ``range_partitions`` controls output file count per contig via a range
    repartition on (partition, sort) keys — one shuffle, then sorted files.
    """
    n = range_partitions or df.sparkSession.sparkContext.defaultParallelism
    keys = [partition_col, *sort_cols]
    (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )


def _bedgraph_chunk(batch) -> bytes:
    """Arrow RecordBatch (BEDGRAPH_COLS order) -> newline-terminated
    bedGraph lines, byte-identical to
    ``formats.bedgraph.format_bedgraph_line`` per row (parity-tested);
    only the value text is formatted per row."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from hadoop_bam_spark.formats.bedgraph import _value_text

    n = batch.num_rows
    if n == 0:
        return b""
    col = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
    value = pa.array([_value_text(v) for v in col["value"].to_pylist()], pa.string())
    lines = pc.binary_join_element_wise(
        pc.cast(col["contig"], pa.string()),
        pc.cast(pc.subtract(col["start"], 1), pa.string()),
        pc.cast(col["end"], pa.string()), value, "\t",
    )
    blob = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, n], pa.int32()), lines),
        pa.scalar("\n"),
    )[0].as_py()
    return (blob + "\n").encode()


def _bedgraph_codec(compress: bool, index_tbi: bool = False) -> _TextCodec:
    from hadoop_bam_spark.formats.bedgraph import BEDGRAPH_COLS
    from hadoop_bam_spark.formats.tabix import FMT_ZERO_BASED

    return _TextCodec(
        "bedgraph", ".bedgraph", BEDGRAPH_COLS, _bedgraph_chunk, compress,
        tabix=((FMT_ZERO_BASED, 1, 2, 3), _zero_based_span) if index_tbi else None,
    )


def write_bedgraph(
    df: DataFrame, path: str, compress: bool | None = None,
    index_tbi: bool = False, sharded: bool = False,
) -> None:
    """Write a BEDGRAPH_SCHEMA DataFrame as bedGraph text (.bedgraph or
    BGZF .bedgraph.bgz — default by extension), converting the engine's
    1-based inclusive intervals back to 0-based half-open on the rim
    (formats/bedgraph.py). ``index_tbi=True`` (BGZF only) builds a
    ``.tbi`` with the BED tabix preset (0-based flag, columns 1/2/3)
    from executor-accumulated stats; ``sharded=True`` writes a directory
    of standalone shards — same shapes as ``write_bed``."""
    compress = _compress_default(path, compress, index_tbi, sharded)
    _write(df, path, _bedgraph_codec(compress, index_tbi), sharded)
