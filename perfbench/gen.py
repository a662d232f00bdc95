"""Seeded genomics inputs for the benchmark.

Every generator takes the workload seed and returns plain columns (NumPy
arrays and Arrow arrays) from which the benchmark computes its expected
answers.  The engine never sees these objects: the workloads hand the
tables to the engine's own sinks (``workloads.Workload.write_reads`` and
``write_sites``) and read back only the files those sinks wrote.

Record shapes follow the engine's schemas (``formats/sam.py:SAM_SCHEMA``,
``formats/vcf.py:VCF_SCHEMA``).  A missing FORMAT cell is an absent map
key, which is what ``formats/vcf.py:parse_vcf_line`` produces when it
reads ``.`` back.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

#: contig name, length.  Small enough that 1 kb queries hit a few reads.
CONTIGS = (("chr1", 3_000_000), ("chr2", 2_000_000), ("chr3", 1_000_000))
READ_LEN = 100
#: CIGAR string, reference span, draw probability.  Every CIGAR reads 100
#: bases; the spans differ so the alignment end is not ``pos + 99``.
CIGARS = (
    ("100M", 100, 0.80),
    ("30S70M", 70, 0.05),
    ("50M2D50M", 102, 0.05),
    ("40M3I57M", 97, 0.05),
    ("70M1000N30M", 1100, 0.05),
)
SAMPLES = ("S1", "S2", "S3")
FLAG_BITS = {
    "paired": 0x1, "proper": 0x2, "reverse": 0x10, "mate_reverse": 0x20,
    "read1": 0x40, "read2": 0x80, "secondary": 0x100, "qcfail": 0x200,
    "duplicate": 0x400,
}
_BASES = np.frombuffer(b"ACGT", dtype=np.uint8)


def _strings(codes: np.ndarray, width: int) -> pa.Array:
    """Fixed-width rows of an (n, width) uint8 matrix -> Arrow strings."""
    n = codes.shape[0]
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(np.ascontiguousarray(codes))
    )


def _named(prefix: str, ids: np.ndarray) -> pa.Array:
    return pc.binary_join_element_wise(
        pa.scalar(prefix), pc.cast(pa.array(ids), pa.string()), ""
    )


def _contig_layout(rng: np.random.Generator, n: int, margin: int):
    """Draw ``n`` sorted (contig id, 1-based position) pairs, contigs in
    dictionary order and spread by length."""
    lengths = np.array([ln for _, ln in CONTIGS], dtype=np.int64)
    rid = np.sort(rng.choice(len(CONTIGS), size=n, p=lengths / lengths.sum()))
    pos = np.empty(n, dtype=np.int64)
    for i, ln in enumerate(lengths):
        m = rid == i
        pos[m] = np.sort(rng.integers(1, ln - margin, size=int(m.sum())))
    return rid, pos


def qname_prefix(seed: int) -> str:
    """Read names are this prefix plus the read's index in generation order."""
    return f"q{seed}_"


@dataclass
class Reads:
    """Generated alignments, coordinate-sorted unless ``shuffled``."""

    rid: np.ndarray
    pos: np.ndarray
    end: np.ndarray
    flag: np.ndarray
    mapq: np.ndarray
    cigar_idx: np.ndarray
    tlen: np.ndarray
    gc: np.ndarray
    table: pa.Table | None

    def __len__(self) -> int:
        return len(self.pos)

    def take(self, order: np.ndarray, with_table: bool = True) -> "Reads":
        """These reads in ``order``."""
        cols = [getattr(self, f)[order] for f in (
            "rid", "pos", "end", "flag", "mapq", "cigar_idx", "tlen", "gc")]
        table = self.table.take(pa.array(order)) if with_table else None
        return Reads(*cols, table)


def make_reads(seed: int, n: int, shuffled: bool = False) -> Reads:
    rng = np.random.default_rng([seed, 1])
    rid, pos = _contig_layout(rng, n, margin=2 * max(s for _, s, _ in CIGARS))
    probs = np.array([p for _, _, p in CIGARS])
    cigar_idx = rng.choice(len(CIGARS), size=n, p=probs / probs.sum())
    span = np.array([s for _, s, _ in CIGARS], dtype=np.int64)[cigar_idx]
    end = pos + span - 1

    def bit(name, share):
        return np.where(rng.random(n) < share, FLAG_BITS[name], 0)

    read1 = rng.random(n) < 0.5
    flag = (
        FLAG_BITS["paired"] | bit("proper", 0.9) | bit("reverse", 0.5)
        | bit("mate_reverse", 0.5) | bit("secondary", 0.02)
        | bit("qcfail", 0.01) | bit("duplicate", 0.05)
        | np.where(read1, FLAG_BITS["read1"], FLAG_BITS["read2"])
    ).astype(np.int32)
    mapq = rng.integers(0, 61, size=n).astype(np.int32)
    insert = rng.integers(200, 501, size=n)
    tlen = np.where(read1, insert, -insert).astype(np.int32)
    pnext = np.maximum(pos + tlen - np.sign(tlen) * READ_LEN, 1).astype(np.int32)
    seq_codes = _BASES[rng.integers(0, 4, size=(n, READ_LEN))]
    gc = ((seq_codes == ord("G")) | (seq_codes == ord("C"))).sum(axis=1)
    qual_codes = rng.integers(33, 74, size=(n, READ_LEN)).astype(np.uint8)
    nm = rng.integers(0, 6, size=n)
    has_as = rng.random(n) < 0.7
    as_val = rng.integers(50, 101, size=n)

    # tags map: NM always, AS on ~70% (absent key otherwise)
    counts = 1 + has_as.astype(np.int32)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    keys = np.full(offsets[-1], "NM", dtype=object)
    vals = np.empty(offsets[-1], dtype=object)
    vals[offsets[:-1]] = nm.astype(str)
    as_slot = offsets[:-1][has_as] + 1
    keys[as_slot] = "AS"
    vals[as_slot] = as_val[has_as].astype(str)
    tags = pa.MapArray.from_arrays(
        pa.array(offsets), pa.array(keys, pa.string()), pa.array(vals, pa.string())
    )
    names = np.array([c for c, _ in CONTIGS], dtype=object)
    rname = pa.array(names[rid], pa.string())
    table = pa.table({
        "qname": _named(qname_prefix(seed), np.arange(n)),
        "flag": pa.array(flag),
        "rname": rname,
        "pos": pa.array(pos.astype(np.int32)),
        "mapq": pa.array(mapq),
        "cigar": pa.array(np.array([c for c, _, _ in CIGARS], dtype=object)[cigar_idx],
                          pa.string()),
        "rnext": rname,
        "pnext": pa.array(pnext),
        "tlen": pa.array(tlen),
        "seq": _strings(seq_codes, READ_LEN),
        "qual": _strings(qual_codes, READ_LEN),
        "tags": tags,
    })
    reads = Reads(rid, pos, end, flag, mapq, cigar_idx, tlen, gc, table)
    if shuffled:
        perm = rng.permutation(n)
        reads = reads.take(perm)
    return reads


@dataclass
class Sites:
    """Generated variant sites of a small cohort, coordinate-sorted."""

    rid: np.ndarray
    start: np.ndarray
    end: np.ndarray
    table: pa.Table

    def __len__(self) -> int:
        return len(self.start)


def make_sites(seed: int, n: int) -> Sites:
    rng = np.random.default_rng([seed, 2])
    rid, start = _contig_layout(rng, n, margin=10)
    ref_len = np.where(rng.random(n) < 0.85, 1, rng.integers(2, 7, size=n))
    end = start + ref_len - 1
    ref_codes = _BASES[rng.integers(0, 4, size=(n, 6))]
    ref_off = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(ref_len, out=ref_off[1:])
    ref = pa.StringArray.from_buffers(n, pa.py_buffer(ref_off), pa.py_buffer(
        np.ascontiguousarray(ref_codes[np.arange(6) < ref_len[:, None]])))
    alt_code = _BASES[(np.searchsorted(_BASES, ref_codes[:, 0]) + rng.integers(1, 4, size=n)) % 4]
    alts = pa.ListArray.from_arrays(
        pa.array(np.arange(n + 1, dtype=np.int32)), _strings(alt_code[:, None], 1)
    )
    ids = _named("rs", np.arange(n)).to_numpy(zero_copy_only=False)
    ids[rng.random(n) < 0.3] = None
    qual = np.round(rng.uniform(10, 99, size=n), 1)
    qual_mask = rng.random(n) < 0.1
    filt_draw = rng.random(n)
    has_filter = filt_draw < 0.9
    filt_off = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(has_filter, out=filt_off[1:])
    filters = pa.ListArray.from_arrays(
        pa.array(filt_off),
        pa.array(np.where(filt_draw < 0.8, "PASS", "q10")[has_filter], pa.string()),
        mask=pa.array(~has_filter),
    )
    # INFO: DP always, the DB flag on ~20%
    db = rng.random(n) < 0.2
    info_off = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(1 + db.astype(np.int32), out=info_off[1:])
    info_keys = np.full(info_off[-1], "DB", dtype=object)
    info_vals = np.full(info_off[-1], "true", dtype=object)
    info_keys[info_off[:-1]] = "DP"
    info_vals[info_off[:-1]] = rng.integers(5, 200, size=n).astype(str)
    info = pa.MapArray.from_arrays(
        pa.array(info_off), pa.array(info_keys, pa.string()),
        pa.array(info_vals, pa.string()),
    )
    # genotypes: one struct per sample; GQ missing on ~20% of cells is an
    # absent key, never a null value
    gts = np.array(["0/0", "0/1", "1/1", "0|1"], dtype=object)
    ns = len(SAMPLES)
    gt = gts[rng.integers(0, len(gts), size=n * ns)]
    gdp = rng.integers(1, 100, size=n * ns).astype(str)
    has_gq = rng.random(n * ns) >= 0.2
    gq = rng.integers(1, 99, size=n * ns).astype(str)
    f_counts = 2 + has_gq.astype(np.int32)
    f_off = np.zeros(n * ns + 1, dtype=np.int32)
    np.cumsum(f_counts, out=f_off[1:])
    f_keys = np.empty(f_off[-1], dtype=object)
    f_vals = np.empty(f_off[-1], dtype=object)
    f_keys[f_off[:-1]] = "GT"
    f_vals[f_off[:-1]] = gt
    f_keys[f_off[:-1] + 1] = "DP"
    f_vals[f_off[:-1] + 1] = gdp
    gq_slot = f_off[:-1][has_gq] + 2
    f_keys[gq_slot] = "GQ"
    f_vals[gq_slot] = gq[has_gq]
    fields = pa.MapArray.from_arrays(
        pa.array(f_off), pa.array(f_keys, pa.string()), pa.array(f_vals, pa.string())
    )
    geno = pa.StructArray.from_arrays(
        [pa.array(np.tile(np.array(SAMPLES, dtype=object), n), pa.string()),
         pa.array(gt, pa.string()), fields],
        names=["sample", "gt", "fields"],
    )
    genotypes = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * ns, ns, dtype=np.int32)), geno
    )
    names = np.array([c for c, _ in CONTIGS], dtype=object)
    table = pa.table({
        "contig": pa.array(names[rid], pa.string()),
        "start": pa.array(start),
        "end": pa.array(end),
        "id": pa.array(ids, pa.string()),
        "ref": ref,
        "alts": alts,
        "qual": pa.array(qual, mask=qual_mask),
        "filters": filters,
        "info": info,
        "genotypes": genotypes,
    })
    return Sites(rid, start, end, table)


#: query widths; the ``i``-th query of a run targets the BAM for
#: ``i % 4 < 3`` (one of each width) and the VCF otherwise (widths in turn),
#: so every run sees the same mix whatever the seed.
REGION_WIDTHS = (1_000, 10_000, 100_000)


def make_regions(seed: int, n: int) -> list[tuple[str, str, int, int]]:
    """``n`` queries (target "bam" | "vcf", contig, start, stop), 1-based
    closed, at seeded places."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for i in range(n):
        target = "bam" if i % 4 < 3 else "vcf"
        width = REGION_WIDTHS[i % 4 if target == "bam" else (i // 4) % 3]
        contig, ln = CONTIGS[int(rng.integers(0, len(CONTIGS)))]
        start = int(rng.integers(1, ln - width))
        out.append((target, contig, start, start + width - 1))
    return out
