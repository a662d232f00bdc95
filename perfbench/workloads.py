"""The benchmark workloads: inputs, one timed operation, and its check.

Each workload writes its seeded inputs with the engine's own sinks
(``build``, part of set-up), precomputes the expected answers from the
generated records (``expect``, not timed), then runs one operation at a
time through the public API (``op``, timed) and checks its result
(``check``, not timed).  ``check`` returns a list of problems; an empty
list means the operation was correct.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

import gen
import tracing

#: records per input at scale 1.  Sized so one run, set-up included, fits
#: the benchmark's time budget on a 4-core box: a region query takes
#: ~0.6 s and a sort-write-depth pipeline ~4 s.
BAM_READS = 100_000
VCF_SITES = 8_000
SORT_READS = 60_000
#: region queries drawn per run, a multiple of the 12-query mix cycle; a
#: run stops long before using them all
REGION_POOL = 480

#: alignment end from the CIGAR (reference-consuming ops M, D, N, =, X)
END_EXPR = (
    "pos + aggregate(regexp_extract_all(cigar, '(\\\\d+)[MDN=X]', 1), 0, "
    "(a, x) -> a + cast(x as int)) - 1"
)


def sam_header(sort_order: str):
    from hadoop_bam_spark.formats.sam import SAMHeader

    return SAMHeader(
        lines=[f"@HD\tVN:1.6\tSO:{sort_order}"]
        + [f"@SQ\tSN:{c}\tLN:{ln}" for c, ln in gen.CONTIGS],
        sequences={c: (i, ln) for i, (c, ln) in enumerate(gen.CONTIGS)},
        sort_order=sort_order,
    )


def vcf_header():
    from hadoop_bam_spark.formats.vcf import VCFHeader

    return VCFHeader(
        lines=["##fileformat=VCFv4.2"]
        + [f"##contig=<ID={c},length={ln}>" for c, ln in gen.CONTIGS]
        + ['##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
           '##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP">',
           '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
           '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
           '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Quality">'],
        samples=list(gen.SAMPLES),
    )


def index_bytes(path: str) -> int:
    """The file plus whichever sidecar indexes the sink wrote."""
    return sum(os.path.getsize(p) for p in
               (path, path + ".bai", path + ".sbi", path + ".tbi")
               if os.path.exists(p))


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    scale: float
    tracer: tracing.Tracer
    #: per-op per-layer samples of the traced run, by metric name
    layer: dict[str, list[float]] = field(default_factory=dict)

    def n(self, base: int) -> int:
        return max(int(base * self.scale), 200)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def sample(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def split_per_slot(self, path: str) -> str:
        """``split_size`` option giving ``path`` one split per Spark task
        slot.  The inputs are far below the sources' 32 MiB default split,
        which would scan each in one task."""
        slots = int(os.environ["SPARK_GRAFT_CPUS"])
        return str(-(-os.path.getsize(path) // slots))

    def frame(self, table, path: str):
        """A DataFrame over ``table``, staged as one Parquet file so Spark
        reads it in the JVM, in file order, instead of shipping the rows
        inside a task."""
        import pyarrow.parquet as pq

        staged = path + ".parquet"
        pq.write_table(table, staged)
        return self.spark.read.parquet(staged)


class Workload:
    name = ""
    #: a run measures whole cycles of this many operations, so every run
    #: sees the same mix of operation kinds
    cycle = 1
    #: operations run before measuring (checked, not measured): the first
    #: operations of a session pay JIT compilation and Python-worker
    #: start-up
    warmup = 2

    def build(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def expect(self, ctx: Ctx) -> None:
        pass

    def op(self, ctx: Ctx, i: int):
        """Run operation ``i``; returns (result, records processed)."""
        raise NotImplementedError

    def check(self, ctx: Ctx, i: int, result) -> list[str]:
        raise NotImplementedError

    def out_bytes_per_rec(self, ctx: Ctx) -> float:
        raise NotImplementedError

    def plan_replay(self, ctx: Ctx, i: int) -> None:
        """Traced run only: replay this op's split planning in-process."""

    def replay(self) -> dict[str, float]:
        """Traced run only: replay the codec rim this workload loads over
        its own files; per-layer metric -> value."""
        return {}

    def cleanup(self, ctx: Ctx, i: int) -> None:
        pass

    # shared input writers -------------------------------------------------

    def write_reads(self, ctx: Ctx, reads: gen.Reads, path: str, sort_order: str):
        from hadoop_bam_spark import sinks

        sinks.write_bam(ctx.frame(reads.table, path), path, sam_header(sort_order),
                        index_bai=sort_order == "coordinate")

    def write_sites(self, ctx: Ctx, sites: gen.Sites, path: str):
        from hadoop_bam_spark import sinks

        sinks.write_vcf(ctx.frame(sites.table, path), path, vcf_header(),
                        index_tbi=True)

    def bam_plan(self, ctx: Ctx, options: dict[str, str]) -> None:
        ms, parts, frac = tracing.replay_plan("bam", options)
        ctx.sample("sources.bam_source.plan_ms", ms)
        ctx.sample("sources.bam_source.partitions", parts)
        ctx.sample("sources.bam_source.planned_bytes_frac", frac)

    def vcf_plan(self, ctx: Ctx, options: dict[str, str]) -> None:
        ms, parts, frac = tracing.replay_plan("vcf", options)
        ctx.sample("sources.vcf_source.plan_ms", ms)
        ctx.sample("sources.vcf_source.partitions", parts)
        ctx.sample("sources.vcf_source.planned_bytes_frac", frac)


class RegionQueries(Workload):
    """Indexed interval queries: 3 of 4 on the BAM's .bai, 1 of 4 on the
    cohort VCF's .tbi, each a projected count."""

    name = "region_queries"
    cycle = 4  # BAM 1 kb, 10 kb, 100 kb, one VCF query (gen.make_regions)
    #: a query costs little besides its fixed per-job work, whose JIT and
    #: worker start-up take the first few cycles of a session to settle
    warmup = 3 * cycle

    def build(self, ctx):
        self.reads = gen.make_reads(ctx.seed, ctx.n(BAM_READS))
        self.sites = gen.make_sites(ctx.seed, ctx.n(VCF_SITES))
        self.bam, self.vcf = ctx.path("reads.bam"), ctx.path("sites.vcf.bgz")
        self.write_reads(ctx, self.reads, self.bam, "coordinate")
        self.write_sites(ctx, self.sites, self.vcf)
        self.queries = gen.make_regions(ctx.seed, REGION_POOL)

    def expect(self, ctx):
        names = [c for c, _ in gen.CONTIGS]
        self.want = []
        for target, contig, start, stop in self.queries:
            src = self.reads if target == "bam" else self.sites
            lo = src.pos if target == "bam" else src.start
            hit = (src.rid == names.index(contig)) & (lo <= stop) & (src.end >= start)
            self.want.append(int(hit.sum()))

    def options(self, i):
        target, contig, start, stop = self.queries[i % len(self.queries)]
        cols = "rname,pos" if target == "bam" else "contig,start"
        return target, {"path": self.bam if target == "bam" else self.vcf,
                        "intervals": f"{contig}:{start}-{stop}", "columns": cols}

    def op(self, ctx, i):
        target, opts = self.options(i)
        with ctx.tracer.span(f"sources.{target}_source.query"):
            n = ctx.spark.read.format(target).options(**opts).load().count()
        return n, n

    def check(self, ctx, i, result):
        want = self.want[i % len(self.want)]
        return [] if result == want else [f"query {i}: got {result}, want {want}"]

    def out_bytes_per_rec(self, ctx):
        return (index_bytes(self.bam) + index_bytes(self.vcf)) / (
            len(self.reads) + len(self.sites))

    def plan_replay(self, ctx, i):
        target, opts = self.options(i)
        (self.bam_plan if target == "bam" else self.vcf_plan)(ctx, opts)

    def replay(self):
        return tracing.replay_index_reads(self.bam, self.vcf)


class SortDepth(Workload):
    """A reads pipeline: coordinate sort of an unsorted BAM, written as one
    merged BAM with .bai and .sbi, then the read depth at every site of a
    cohort VCF over the written BAM (interval_coverage) as a histogram."""

    name = "sort_depth"

    def build(self, ctx):
        self.reads = gen.make_reads(ctx.seed, ctx.n(SORT_READS), shuffled=True)
        self.sites = gen.make_sites(ctx.seed, ctx.n(VCF_SITES))
        self.bam, self.vcf = ctx.path("unsorted.bam"), ctx.path("sites.vcf.bgz")
        self.write_reads(ctx, self.reads, self.bam, "unsorted")
        self.write_sites(ctx, self.sites, self.vcf)
        # the sorted output is the same records, so about the same size
        self.split = ctx.split_per_slot(self.bam)
        self.out_sizes: list[int] = []

    def expect(self, ctx):
        self.want = depth_histogram(ctx, self.reads, self.sites)

    def out_path(self, i):
        return os.path.join(os.path.dirname(self.bam), f"sorted-{i}.bam")

    def op(self, ctx, i):
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.operators.interval_join import interval_coverage

        spark = ctx.spark
        out = self.out_path(i)
        df = spark.read.format("bam").option("split_size", self.split) \
            .load(self.bam).orderBy("rname", "pos")
        with ctx.tracer.span("sinks.write_bam"):
            sinks.write_bam(df, out, sam_header("coordinate"), index_bai=True)
        with ctx.tracer.span("operators.interval_coverage.build"):
            sites = spark.read.format("vcf").option("columns", "contig,start,end") \
                .load(self.vcf)
            reads = spark.read.format("bam").option("columns", "rname,pos,cigar") \
                .option("split_size", self.split).load(out) \
                .selectExpr("rname", "pos", f"{END_EXPR} as end")
            cov = interval_coverage(sites, reads, keys=("contig", "start", "end"),
                                    right_keys=("rname", "pos", "end"))
        with ctx.tracer.span("operators.interval_coverage.exec"):
            rows = cov.groupBy("n_overlaps").count().collect()
        hist = {int(r[0]): int(r[1]) for r in rows}
        return (out, hist), len(self.reads) + len(self.sites)

    def check(self, ctx, i, result):
        out, hist = result
        self.out_sizes.append(index_bytes(out))
        problems = check_sorted_bam(out, self.reads)
        if hist != self.want:
            diff = sorted(set(hist.items()) ^ set(self.want.items()))[:5]
            problems.append(f"depth histogram differs from DuckDB: {diff}")
        return problems

    def cleanup(self, ctx, i):
        out = self.out_path(i)
        for p in (out, out + ".bai", out + ".sbi"):
            if os.path.exists(p):
                os.remove(p)

    def out_bytes_per_rec(self, ctx):
        return float(np.median(self.out_sizes)) / len(self.reads)

    def plan_replay(self, ctx, i):
        self.bam_plan(ctx, {"path": self.bam, "split_size": self.split})
        self.vcf_plan(ctx, {"path": self.vcf, "columns": "contig,start,end"})

    def replay(self):
        return {**tracing.replay_bam_decode(self.bam),
                **tracing.replay_bam_encode(self.reads.table, list(gen.CONTIGS)),
                **tracing.replay_vcf_parse(self.vcf)}


def check_sorted_bam(path: str, reads: gen.Reads) -> list[str]:
    """Gate for a sort-and-write output: a structurally valid BAM holding
    exactly the input records, in coordinate order."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from hadoop_bam_spark.formats import bam, bam_vec, bgzf
    from hadoop_bam_spark.tools.bgzf_bam_validator import validate_file

    findings = validate_file(path)
    if findings:
        return [f"validator: {f}" for f in findings[:5]]
    try:
        with open(path, "rb") as fh:
            _, refs, first_v = bam.read_header(bgzf.BGZFReader(fh))
        dec = bam_vec.BAMBatchDecoder(
            refs, fields=["qname", "flag", "rname", "pos", "mapq", "cigar",
                          "tlen", "seq"])
        cols: dict[str, list] = {}
        with open(path, "rb") as fh:
            end = bgzf.make_voffset(os.path.getsize(path), 0)
            for buf, starts, lens in bam_vec.iter_body_batches(fh, first_v, end):
                for k, v in dec.decode_span(buf, starts, lens).items():
                    cols.setdefault(k, []).append(v)
    except (ValueError, IndexError, EOFError) as e:  # truncated or garbled
        return [f"readback failed: {e!r}"]
    n = len(reads)
    got = sum(len(a) for a in cols.get("pos", []))
    if got != n:
        return [f"readback count {got}, want {n}"]

    def col(name):
        return pa.chunked_array(cols[name]).combine_chunks()

    def index_in(name, values):
        """Column ``name`` as indexes into ``values`` (-1 when absent)."""
        return pc.fill_null(pc.index_in(col(name), value_set=pa.array(values)),
                            -1).to_numpy()

    rid = index_in("rname", [c for c, _ in gen.CONTIGS])
    pos = col("pos").to_numpy()
    key = rid.astype(np.int64) << 32 | pos
    if np.any(np.diff(key) < 0):
        return ["records are not in coordinate order"]
    idx = qname_index(col("qname"))
    if not np.array_equal(np.sort(idx), np.arange(n)):
        return ["qnames are not the input's"]
    # order-insensitive record checksum: place each record at its input
    # index, then compare every decoded field with the generated one
    order = np.argsort(idx)
    gc = gc_counts(col("seq"))
    base = reads_by_qname(reads)
    got = {
        "rid": rid[order], "pos": pos[order],
        "flag": col("flag").to_numpy()[order], "mapq": col("mapq").to_numpy()[order],
        "tlen": col("tlen").to_numpy()[order],
        "cigar": index_in("cigar", [c for c, _, _ in gen.CIGARS])[order],
        "gc": gc[order],
    }
    want = {"rid": base.rid, "pos": base.pos, "flag": base.flag, "mapq": base.mapq,
            "tlen": base.tlen, "cigar": base.cigar_idx, "gc": base.gc}
    return [f"field {k} differs from the input" for k in want
            if not np.array_equal(got[k], want[k])]


def gc_counts(seq) -> np.ndarray:
    """G plus C bases per string of an Arrow string array."""
    offsets = np.frombuffer(seq.buffers()[1], np.int32)[seq.offset:seq.offset + len(seq) + 1]
    data = np.frombuffer(seq.buffers()[2], np.uint8)
    hits = np.concatenate([[0], np.cumsum((data == ord("G")) | (data == ord("C")))])
    return hits[offsets[1:]] - hits[offsets[:-1]]


def qname_index(qnames) -> np.ndarray:
    """Generation index of each read, parsed from its name (``gen.qname_prefix``)."""
    import pyarrow.compute as pc

    start = qnames[0].as_py().index("_") + 1
    return pc.cast(pc.utf8_slice_codeunits(qnames, start), "int64").to_numpy()


def reads_by_qname(reads: gen.Reads) -> gen.Reads:
    """The generated reads in generation-index (qname) order."""
    idx = qname_index(reads.table.column("qname").combine_chunks())
    return reads.take(np.argsort(idx), with_table=False)


def depth_histogram(ctx: Ctx, reads: gen.Reads, sites: gen.Sites) -> dict[int, int]:
    """DuckDB's histogram of read depth per site, over Parquet copies of
    the generated records."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = np.array([c for c, _ in gen.CONTIGS], dtype=object)
    rp, sp = ctx.path("reads.parquet"), ctx.path("sites.parquet")
    pq.write_table(pa.table({"rname": pa.array(names[reads.rid], pa.string()),
                             "pos": reads.pos, "end": reads.end}), rp)
    pq.write_table(pa.table({"site": np.arange(len(sites)),
                             "contig": pa.array(names[sites.rid], pa.string()),
                             "start": sites.start, "end": sites.end}), sp)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        rows = con.execute(f"""
            SELECT n_overlaps, count(*) FROM (
              SELECT s.site, count(r.pos) AS n_overlaps
              FROM read_parquet('{sp}') s
              LEFT JOIN read_parquet('{rp}') r
                ON r.rname = s.contig AND r.pos <= s."end" AND r."end" >= s.start
              GROUP BY s.site)
            GROUP BY n_overlaps""").fetchall()
    finally:
        con.close()
    return {int(k): int(v) for k, v in rows}


WORKLOADS = {w.name: w for w in (RegionQueries, SortDepth)}
