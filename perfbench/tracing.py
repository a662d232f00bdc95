"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code, around its calls into
the engine's public functions; nothing inside the engine is patched.  Each
span also becomes the Spark job group for the jobs started inside it, so
the event log attributes jobs, stages and task metrics to spans.

Work that runs inside Spark's Python workers (BGZF inflate, the
vectorized decoders and encoder) cannot be timed from the driver, so the
traced run replays those codec calls in this process over the workload's
own files (``replay_*``).  Split planning runs in a planner worker for
the same reason, and is replayed here with the query's own options
(``replay_plan``).
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


@dataclass
class Tracer:
    """In-memory span recorder; ``enabled=False`` makes ``span`` free."""

    spark: object
    enabled: bool = False
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else None,
                               self.run_id))
        self._stack.append(sid)
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group(sid), name)
        try:
            yield sid
        finally:
            self.spans[sid].end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                sc.setJobGroup(self.group(parent), self.spans[parent].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def group(self, sid: int) -> str:
        """The Spark job group of span ``sid``."""
        return f"{self.run_id}:{sid}"

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class JobStats:
    group: str | None
    submit_ms: int
    end_ms: int = 0


def read_event_log(log_dir: str):
    """Parse the one plain-JSON event log in ``log_dir`` into (jobs by id,
    job id by stage id, task-end events)."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    with open(os.path.join(log_dir, names[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = JobStats(props.get("spark.jobGroup.id"), ev["Submission Time"])
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    return jobs, stage_job, tasks


def spark_metrics(log, groups: set[str], n_ops: int) -> dict[str, float]:
    """``spark.*`` per-layer numbers from a parsed event log
    (``read_event_log``) over the jobs of the given job groups, per
    measured operation."""
    jobs, stage_job, tasks = log
    picked = {jid for jid, j in jobs.items() if j.group in groups}
    stages: dict[int, list[float]] = {}
    tot = dict(run=0.0, cpu=0.0, gc=0.0, sw=0, sr=0, spill=0, peak=0, n=0)
    for ev in tasks:
        if stage_job.get(ev["Stage ID"]) not in picked:
            continue
        m = ev.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1e3
        stages.setdefault(ev["Stage ID"], []).append(run_s)
        tot["n"] += 1
        tot["run"] += run_s
        tot["cpu"] += m.get("Executor CPU Time", 0) / 1e9
        tot["gc"] += m.get("JVM GC Time", 0) / 1e3
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        tot["sw"] += sw.get("Shuffle Bytes Written", 0)
        tot["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        tot["peak"] = max(tot["peak"], m.get("Peak Execution Memory", 0))
    skew = max(
        (max(v) / statistics.median(v) for v in stages.values()
         if len(v) > 1 and statistics.median(v) > 0),
        default=1.0,
    )
    k = max(n_ops, 1)
    return {
        "spark.jobs": len(picked) / k,
        "spark.stages": len(stages) / k,
        "spark.tasks": tot["n"] / k,
        "spark.executor_run_s": tot["run"] / k,
        "spark.executor_cpu_s": tot["cpu"] / k,
        "spark.gc_s": tot["gc"] / k,
        "spark.shuffle_write_bytes": tot["sw"] / k,
        "spark.shuffle_read_bytes": tot["sr"] / k,
        "spark.spill_bytes": tot["spill"] / k,
        "spark.peak_exec_mem_bytes": tot["peak"],
        "spark.task_skew": skew,
    }


def job_seconds(jobs: list[JobStats]) -> float:
    """Wall time covered by the union of the jobs' [submit, end] spans."""
    total, cur_end = 0, None
    for j in sorted(jobs, key=lambda j: j.submit_ms):
        if cur_end is None or j.submit_ms >= cur_end:
            total += j.end_ms - j.submit_ms
            cur_end = j.end_ms
        elif j.end_ms > cur_end:
            total += j.end_ms - cur_end
            cur_end = j.end_ms
    return total / 1e3


# ---------------------------------------------------------------------------
# in-process replays of the executor-side codec rim and of split planning
# ---------------------------------------------------------------------------


def replay_bam_decode(path: str) -> dict[str, float]:
    """Walk every record body of a BAM (``bam_vec.iter_body_batches``) and
    decode all columns (``BAMBatchDecoder.decode_span``), timing each."""
    from hadoop_bam_spark.formats import bam, bam_vec, bgzf

    with open(path, "rb") as fh:
        _, refs, first_v = bam.read_header(bgzf.BGZFReader(fh))
    size = os.path.getsize(path)
    dec = bam_vec.BAMBatchDecoder(refs)
    walk = decode = 0.0
    n = 0
    with open(path, "rb") as fh:
        it = bam_vec.iter_body_batches(fh, first_v, bgzf.make_voffset(size, 0))
        while True:
            t0 = time.perf_counter()
            batch = next(it, None)
            walk += time.perf_counter() - t0
            if batch is None:
                break
            buf, starts, lens = batch
            t0 = time.perf_counter()
            dec.decode_span(buf, starts, lens)
            decode += time.perf_counter() - t0
            n += len(lens)
    return {
        "formats.bam_vec.iter_body_batches_mb_s": size / 1e6 / walk,
        "formats.bam_vec.decode_span_krec_s": n / 1e3 / decode,
    }


def replay_vcf_parse(path: str) -> dict[str, float]:
    """Parse every data line of a BGZF VCF in ``parse_vcf_chunk`` chunks."""
    from hadoop_bam_spark.formats import vcf_vec
    from hadoop_bam_spark.formats.vcf import read_vcf_header
    from hadoop_bam_spark.sources.vcf_source import iter_bgzf_owned_lines

    samples = read_vcf_header(path).samples
    lines = [l for l in iter_bgzf_owned_lines(path, 0, os.path.getsize(path))
             if l and not l.startswith("#")]
    size = vcf_vec.VEC_CHUNK_LINES
    secs, fallbacks = 0.0, 0
    for i in range(0, len(lines), size):
        t0 = time.perf_counter()
        out = vcf_vec.parse_vcf_chunk(lines[i:i + size], samples)
        secs += time.perf_counter() - t0
        fallbacks += out is None
    return {
        "formats.vcf_vec.parse_vcf_chunk_krec_s": len(lines) / 1e3 / secs,
        "formats.vcf_vec.parse_vcf_chunk_fallbacks": float(fallbacks),
    }


def encoder_input(table):
    """A reads table in the layout ``sinks.write_bam`` hands
    ``BAMBatchEncoder.encode_batch``: the tags map split into key and
    value lists."""
    import pyarrow as pa

    tags = table.column("tags").combine_chunks()
    return table.drop_columns(["tags"]).append_column(
        "tag_keys", pa.ListArray.from_arrays(tags.offsets, tags.keys)
    ).append_column("tag_vals", pa.ListArray.from_arrays(tags.offsets, tags.items))


def replay_bam_encode(table, refs) -> dict[str, float]:
    """Encode a reads table as ``sinks.write_bam`` does, then
    BGZF-compress the records in 64 KiB blocks (``bgzf.compress_block``)."""
    from hadoop_bam_spark.formats import bgzf
    from hadoop_bam_spark.formats.bam_venc import BAMBatchEncoder

    enc = BAMBatchEncoder(refs)
    secs, n, blobs = 0.0, 0, []
    for batch in encoder_input(table).to_batches(max_chunksize=8192):
        t0 = time.perf_counter()
        blob, lens, _ = enc.encode_batch(batch)
        secs += time.perf_counter() - t0
        n += len(lens)
        blobs.append(blob)
    data = b"".join(blobs)
    block = 0xFF00
    t0 = time.perf_counter()
    for i in range(0, len(data), block):
        bgzf.compress_block(data[i:i + block])
    comp = time.perf_counter() - t0
    return {
        "formats.bam_venc.encode_batch_krec_s": n / 1e3 / secs,
        "formats.bgzf.compress_block_mb_s": len(data) / 1e6 / comp,
    }


def _median_ms(fn, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def replay_index_reads(bam_path: str, vcf_path: str) -> dict[str, float]:
    """Median time to load a BAM's ``.bai`` and a VCF's ``.tbi``."""
    from hadoop_bam_spark.formats.bai import read_bai
    from hadoop_bam_spark.formats.tabix import read_tabix

    return {
        "formats.bai.read_bai_ms": _median_ms(lambda: read_bai(bam_path + ".bai")),
        "formats.tabix.read_tabix_ms": _median_ms(lambda: read_tabix(vcf_path + ".tbi")),
    }


def _planned_bytes(part) -> int:
    """Compressed bytes a planned partition will read."""
    from hadoop_bam_spark.sources.bam_source import BAMPartition, RawBAMPartition
    from hadoop_bam_spark.sources.vcf_source import BGZFTextPartition

    if isinstance(part, BAMPartition):
        spans = part.chunks or ((part.vstart, part.vend),)
        return sum((e >> 16) - (b >> 16) for b, e in spans)
    if isinstance(part, RawBAMPartition):
        return part.end - part.start
    if isinstance(part, BGZFTextPartition):
        return part.end_coffset - part.start_coffset
    return 0


def replay_plan(fmt: str, options: dict[str, str]) -> tuple[float, int, float]:
    """Driver-side planning with a query's options: reader constructor plus
    ``partitions()``.  Returns (ms, partitions, planned bytes / file bytes)."""
    from hadoop_bam_spark.sources.bam_source import BAMReader, EmptyPartition
    from hadoop_bam_spark.sources.vcf_source import VCFReader

    cls = BAMReader if fmt == "bam" else VCFReader
    t0 = time.perf_counter()
    parts = cls(options).partitions()
    ms = (time.perf_counter() - t0) * 1e3
    real = [p for p in parts if not isinstance(p, EmptyPartition)]
    frac = sum(_planned_bytes(p) for p in real) / os.path.getsize(options["path"])
    return ms, len(real), frac
