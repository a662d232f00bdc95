"""Vectorized VCF data-line decode: text chunk -> Arrow RecordBatch.

The columnar twin of :func:`hadoop_bam_spark.formats.vcf.parse_vcf_line`
(same value conventions, reference VCFRecordReader.java:166-211), built the
same way as ``bam_vec`` is for BAM: one C++-side pass per *column* instead
of one Python pass per *record*.

Pipeline per chunk (8-16k data lines):

1. ``pyarrow.csv.read_csv`` splits the tab-delimited lines into string
   columns (multithreaded C++, no per-line Python).
2. ``pyarrow.compute`` kernels do the spec conversions column-at-a-time:
   '.'-to-null masks, ALT/FILTER comma/semicolon splits, QUAL float cast.
3. The INFO map is built flat: one ``split_pattern(';')`` over the column,
   one ``extract_regex`` over the flattened items for values ("DB" flag vs
   "X=" empty — flags become "true"), ``MapArray.from_arrays`` with
   null-masked offsets for '.' rows. END overrides the computed end
   coordinate via a numpy scatter on the flat key array.
4. Genotypes use the repeat/cumsum ramp trick (same as ``bam_venc``):
   FORMAT and each sample column split on ':', per-row key/value index
   ramps gathered from the two flat arrays (zip-truncated to the shorter
   side, as the scalar parser does), '.'-valued pairs dropped by mask, and
   per-sample MapArrays interleaved row-major with one ``take``.

Any parse irregularity (ragged field counts, non-numeric POS/QUAL) aborts
the whole chunk with ``None`` and the caller re-parses it with the scalar
path, which applies ValidationStringency per line — so malformed-input
behavior is identical to the reference's, just off the fast path.
"""

from __future__ import annotations

import io
from typing import Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

from hadoop_bam_spark.formats.vcf import VCF_SCHEMA

#: data lines per vectorized chunk (bigger than the row-path batch: the
#: whole point is amortizing per-batch kernel dispatch)
VEC_CHUNK_LINES = 16384

_FIXED = 8  # CHROM POS ID REF ALT QUAL FILTER INFO


def _dot_null(col: pa.Array) -> pa.Array:
    return pc.if_else(pc.equal(col, "."), pa.scalar(None, pa.string()), col)


def _split_or_null(col: pa.Array, sep: str) -> pa.Array:
    """Split on ``sep`` with '.' rows as null lists."""
    parts = pc.split_pattern(col, sep)
    return pc.if_else(
        pc.equal(col, "."), pa.scalar(None, pa.list_(pa.string())), parts
    )


def _info_arrays(info_col: pa.Array):
    """INFO column -> (map_array, flat_keys, flat_values, parent_row_idx).

    The flat views are returned so END extraction can scatter without a
    second parse."""
    n = len(info_col)
    items = pc.split_pattern(info_col, ";")
    flat = pc.list_flatten(items)
    parent = pc.list_parent_indices(items).to_numpy(zero_copy_only=False)
    # drop empty items ("" from stray ';;') exactly as the scalar loop does
    nonempty = pc.not_equal(flat, "")
    if not pc.all(nonempty).as_py():
        keep_idx = np.nonzero(nonempty.to_numpy(zero_copy_only=False))[0]
        flat = flat.take(pa.array(keep_idx, pa.int64()))
        parent = parent[keep_idx]
    # "k=v" / "FLAG" split without regex: one max_splits=1 split, then the
    # key is child[offset] and the value child[offset+len-1] (which aliases
    # the key for flags — masked to "true" by the if_else)
    kv = pc.split_pattern(flat, "=", max_splits=1)
    kvv = kv.values
    off = kv.offsets.to_numpy().astype(np.int64)
    lens = np.diff(off)
    keys = kvv.take(pa.array(off[:-1], pa.int64()))
    val_all = kvv.take(pa.array(off[:-1] + lens - 1, pa.int64()))
    values = pc.if_else(pa.array(lens == 2), val_all, pa.scalar("true"))
    # '.' rows -> EMPTY map (scalar-parser parity: info starts as {} and the
    # '.' branch never fills it); their single "." item is not a real entry
    dot = pc.equal(info_col, ".").to_numpy(zero_copy_only=False)
    if dot.any():
        keep_idx = np.nonzero(~dot[parent])[0]
        keys = keys.take(pa.array(keep_idx, pa.int64()))
        values = values.take(pa.array(keep_idx, pa.int64()))
        parent = parent[keep_idx]
    counts = np.bincount(parent, minlength=n)
    offsets_np = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets_np[1:])
    m = pa.MapArray.from_arrays(pa.array(offsets_np, pa.int32()), keys, values)
    return m, keys, values, parent


def _end_column(start_np, ref_col, keys, values, parent) -> pa.Array:
    """end = INFO END if present else start + len(ref) - 1."""
    end_np = start_np + pc.utf8_length(ref_col).to_numpy(
        zero_copy_only=False
    ).astype(np.int64) - 1
    is_end = pc.equal(keys, "END").to_numpy(zero_copy_only=False)
    if is_end.any():
        idx = np.nonzero(is_end)[0]
        rows = parent[idx]
        ends = values.take(pa.array(idx, pa.int64()))
        end_np[rows] = pc.cast(ends, pa.int64()).to_numpy(zero_copy_only=False)
    return pa.array(end_np, pa.int64())


def _ramp(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... as one flat int64 array."""
    total = int(counts.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def _genotypes_array(fmt_col: pa.Array, sample_cols: Sequence[pa.Array],
                     samples: Sequence[str]) -> pa.Array:
    """FORMAT + per-sample columns -> array<struct<sample,gt,fields>>.

    The ns sample columns are interleaved ROW-MAJOR into one virtual array
    up front (virtual row v = r*ns + j, one cheap string ``take``) so every
    later kernel runs once over ns*n values AND its output is already in
    final order — no nested-array permutation at the end. GT extraction is
    a masked index ``take`` (null where the row has no kept GT), never an
    object-array scatter."""
    n = len(fmt_col)
    ns = len(samples)
    nv = n * ns
    fmt_split = pc.split_pattern(fmt_col, ":")
    fmt_flat = fmt_split.values
    fmt_off = fmt_split.offsets.to_numpy().astype(np.int64)
    fmt_len = np.diff(fmt_off)
    # repeat FORMAT geometry per sample: row-major means fmt of row r serves
    # virtual rows r*ns .. r*ns+ns-1 consecutively
    fmt_len_v = np.repeat(fmt_len, ns)
    fmt_starts_v = np.repeat(fmt_off[:-1], ns)

    kk = np.arange(nv, dtype=np.int64)
    interleave = pa.array((kk % ns) * n + kk // ns, pa.int64())
    all_vals = pa.concat_arrays(
        [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c
         for c in sample_cols]
    ).take(interleave)
    val_split = pc.split_pattern(all_vals, ":")
    val_flat = val_split.values
    val_off = val_split.offsets.to_numpy().astype(np.int64)
    val_len = np.diff(val_off)

    m = np.minimum(fmt_len_v, val_len)  # zip truncates to the shorter side
    ramp = _ramp(m)
    parent = np.repeat(kk, m)
    keys_f = fmt_flat.take(pa.array(fmt_starts_v.repeat(m) + ramp, pa.int64()))
    vals_f = val_flat.take(pa.array(val_off[:-1].repeat(m) + ramp, pa.int64()))
    # '.' values are spec-missing: drop the pair (scalar parser parity)
    keep = pc.not_equal(vals_f, ".").to_numpy(zero_copy_only=False)
    if not keep.all():
        keep_idx = pa.array(np.nonzero(keep)[0], pa.int64())
        keys_f = keys_f.take(keep_idx)
        vals_f = vals_f.take(keep_idx)
        parent = parent[keep]
    counts = np.bincount(parent, minlength=nv)
    off = np.zeros(nv + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    fields_flat = pa.MapArray.from_arrays(pa.array(off, pa.int32()), keys_f, vals_f)

    # GT per virtual row: index of its GT pair in vals_f, null when absent
    gt_idx = np.full(nv, -1, dtype=np.int64)
    is_gt = pc.equal(keys_f, "GT").to_numpy(zero_copy_only=False)
    if is_gt.any():
        gi = np.nonzero(is_gt)[0]
        gt_idx[parent[gi]] = gi
    gt_flat = vals_f.take(pa.array(gt_idx, pa.int64(), mask=gt_idx < 0))

    struct = pa.StructArray.from_arrays(
        [_sample_names_flat(tuple(samples), n), gt_flat, fields_flat],
        names=["sample", "gt", "fields"],
    )
    offsets = pa.array(np.arange(0, nv + 1, ns, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, struct)


_SAMPLE_FLAT_CACHE: dict = {}


def _sample_names_flat(samples: tuple, n: int) -> pa.Array:
    """Constant per (file, chunk size): [s0..s_ns-1] tiled n times."""
    key = (samples, n)
    arr = _SAMPLE_FLAT_CACHE.get(key)
    if arr is None:
        if len(_SAMPLE_FLAT_CACHE) > 8:
            _SAMPLE_FLAT_CACHE.clear()
        base = pa.array(list(samples), pa.string())
        idx = pa.array(np.tile(np.arange(len(samples)), n), pa.int64())
        arr = _SAMPLE_FLAT_CACHE[key] = base.take(idx)
    return arr


def parse_vcf_chunk(
    lines: Sequence[str],
    samples: Sequence[str],
    wanted: Optional[frozenset] = None,
) -> Optional[dict]:
    """Data lines -> {column_name: pyarrow.Array} for the wanted columns.

    Returns None when the chunk can't be parsed columnar (ragged rows,
    malformed numerics) — caller falls back to the scalar parser, which
    raises/skips per ValidationStringency. ``wanted=None`` builds all
    columns."""
    if not lines:
        return {}
    ncols = _FIXED + (1 + len(samples) if samples else 0)
    names = [f"c{i}" for i in range(ncols)]
    blob = ("\n".join(lines)).encode("utf-8", "surrogateescape")
    if b"\r" in blob:
        blob = blob.replace(b"\r", b"")
    try:
        table = pacsv.read_csv(
            io.BytesIO(blob),
            read_options=pacsv.ReadOptions(column_names=names),
            parse_options=pacsv.ParseOptions(
                delimiter="\t", quote_char=False, double_quote=False,
                escape_char=False, newlines_in_values=False,
            ),
            convert_options=pacsv.ConvertOptions(
                column_types={nm: pa.string() for nm in names},
                null_values=[],
                strings_can_be_null=False,
            ),
        )
    except pa.ArrowInvalid:
        return None
    if table.num_columns != ncols or table.num_rows != len(lines):
        return None
    cols = [table.column(i).combine_chunks() for i in range(ncols)]
    # INFO permits no whitespace (VCF spec 1.6.1 #8); a violating row is
    # a per-record stringency decision, so the whole chunk bails to the
    # scalar parser which raises/skips per ValidationStringency (htsjdk
    # parity: invalid_info_field.vcf)
    if pc.any(pc.match_substring(cols[7], " ")).as_py():
        return None

    def want(name: str) -> bool:
        return wanted is None or name in wanted

    out: dict[str, pa.Array] = {}
    try:
        if want("contig"):
            out["contig"] = cols[0]
        start_np = None
        if want("start") or want("end"):
            start_np = pc.cast(cols[1], pa.int64()).to_numpy(zero_copy_only=False)
            if want("start"):
                out["start"] = pa.array(start_np, pa.int64())
        if want("id"):
            out["id"] = _dot_null(cols[2])
        if want("ref") or want("end"):
            if want("ref"):
                out["ref"] = cols[3]
        if want("alts"):
            out["alts"] = _split_or_null(cols[4], ",")
        if want("qual"):
            out["qual"] = pc.cast(_dot_null(cols[5]), pa.float64())
        if want("filters"):
            out["filters"] = _split_or_null(cols[6], ";")
        if want("info") or want("end"):
            info_map, ikeys, ivals, iparent = _info_arrays(cols[7])
            if want("info"):
                out["info"] = info_map
            if want("end"):
                out["end"] = _end_column(start_np, cols[3], ikeys, ivals, iparent)
        if want("genotypes"):
            if samples and ncols > _FIXED + 1:
                out["genotypes"] = _genotypes_array(
                    cols[_FIXED], cols[_FIXED + 1 :], list(samples)
                )
            else:
                out["genotypes"] = pa.nulls(
                    len(lines),
                    pa.list_(
                        pa.struct(
                            [
                                ("sample", pa.string()),
                                ("gt", pa.string()),
                                ("fields", pa.map_(pa.string(), pa.string())),
                            ]
                        )
                    ),
                )
    except (pa.ArrowInvalid, ValueError):
        return None
    return out


def _conform(arr: pa.Array, t: pa.DataType) -> pa.Array:
    """Cast to the exact Spark-bridge type, tolerating nullability-only
    mismatches in nested fields (Arrow refuses nullable->non-nullable casts
    even when no value is null, e.g. the genotype struct's sample field)."""
    if arr.type.equals(t):
        return arr
    if arr.null_count == len(arr):
        return pa.nulls(len(arr), t)
    if pa.types.is_list(t) and pa.types.is_list(arr.type):
        out = pa.ListArray.from_arrays(
            arr.offsets, _conform(arr.values, t.value_type)
        )
        return out if out.type.equals(t) else out.cast(t)
    if pa.types.is_struct(t) and pa.types.is_struct(arr.type):
        children = [
            _conform(arr.field(i), t.field(i).type) for i in range(t.num_fields)
        ]
        return pa.StructArray.from_arrays(children, fields=list(t))
    return arr.cast(t)


def chunk_to_batch(
    arrays: dict,
    target_schema: pa.Schema,
    interval_mask: Optional[np.ndarray] = None,
) -> pa.RecordBatch:
    """Assemble (and optionally filter) the pruned RecordBatch.

    Casts each column to the exact field type Spark's Arrow bridge expects
    (list/map child field names differ between kernels' output and
    ``to_arrow_schema``)."""
    cols = []
    for f in target_schema:
        cols.append(_conform(arrays[f.name], f.type))
    batch = pa.RecordBatch.from_arrays(cols, schema=target_schema)
    if interval_mask is not None:
        batch = batch.filter(pa.array(interval_mask))
    return batch


def _join_or_dot(col: pa.Array, sep: str) -> pa.Array:
    """list<string> -> sep-joined string; null/EMPTY lists -> '.' (the
    scalar formatter's `",".join(x) if x else "."`)."""
    if col.type != pa.list_(pa.string()):
        # binary_join has no kernel for non-nullable-element lists (the
        # shape Spark's Arrow bridge produces)
        col = col.cast(pa.list_(pa.string()))
    joined = pc.binary_join(col, pa.scalar(sep))
    lens = pc.fill_null(pc.list_value_length(col), 0)
    return pc.if_else(
        pc.equal(lens, 0), pa.scalar("."), pc.fill_null(joined, ".")
    )


def _qual_strings(qual: pa.Array) -> pa.Array:
    """float64 -> VCF QUAL text: '.' for null, integer-valued quals without
    the '.0' (str(int(q))), shortest round-trip decimal otherwise. The
    non-integer rendering comes from Arrow's shortest-repr cast, which may
    differ in exponent STYLE from Python repr for extreme magnitudes but
    always parses back to the identical double."""
    is_int = pc.and_(
        pc.is_valid(qual),
        pc.and_(
            pc.equal(qual, pc.floor(qual)),
            pc.and_(pc.greater(qual, -(2.0 ** 62)), pc.less(qual, 2.0 ** 62)),
        ),
    )
    as_int = pc.cast(
        pc.if_else(is_int, qual, pa.scalar(0.0)), pa.int64()
    )
    int_s = pc.cast(as_int, pa.string())
    float_s = pc.cast(qual, pa.string())
    return pc.fill_null(
        pc.if_else(pc.fill_null(is_int, False), int_s, float_s), "."
    )


def _info_strings(info: pa.Array) -> pa.Array:
    """map<string,string> -> 'k=v;flag;...' per row ('.' for null/empty;
    value 'true' means flag, key only — the scalar formatter's rule)."""
    if info.offset != 0:
        info = info.take(pa.array(np.arange(len(info)), pa.int64()))
    keys = info.keys
    vals = info.items
    fields = pc.if_else(
        pc.equal(vals, "true"),
        keys,
        pc.binary_join_element_wise(keys, vals, "="),
    )
    per_row = pc.binary_join(
        pa.ListArray.from_arrays(info.offsets, fields), pa.scalar(";")
    )
    off = info.offsets.to_numpy().astype(np.int64)
    lens = np.diff(off)
    null_np = pc.is_null(info).to_numpy(zero_copy_only=False)
    empty = pa.array((lens == 0) | null_np)
    return pc.if_else(empty, pa.scalar("."), pc.fill_null(per_row, "."))


def format_vcf_chunk(batch, samples) -> Optional[bytes]:
    """VCF_SCHEMA RecordBatch -> data lines (bytes), or None when the chunk
    needs the scalar formatter.

    Site-level columns always vectorize. Genotypes vectorize on the UNIFORM
    shape (every genotype map in the chunk has the same key sequence — the
    normal cohort-VCF case): per-key value arrays are stride gathers from
    the flat map items, FORMAT is one constant, per-sample columns are one
    joined kernel each. Ragged/missing-key chunks return None and take the
    per-row path, whose output is byte-identical semantics-wise."""
    col = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
    n = batch.num_rows
    if n == 0:
        return b""
    vid = pc.fill_null(col["id"], ".")
    vid = pc.if_else(pc.equal(vid, ""), pa.scalar("."), vid)
    line = pc.binary_join_element_wise(
        col["contig"],
        pc.cast(col["start"], pa.string()),
        vid,
        col["ref"],
        _join_or_dot(col["alts"], ","),
        _qual_strings(col["qual"]),
        _join_or_dot(col["filters"], ";"),
        _info_strings(col["info"]),
        "\t",
    )
    if samples:
        g = col["genotypes"]
        if g.null_count:
            return None
        if g.offset != 0:
            g = g.take(pa.array(np.arange(n), pa.int64()))
        ns = len(samples)
        g_off = g.offsets.to_numpy().astype(np.int64)
        if (np.diff(g_off) != ns).any():
            return None
        fm = g.values.field("fields")
        if fm.null_count or fm.offset != 0:
            return None
        ent_off = fm.offsets.to_numpy().astype(np.int64)
        counts = np.diff(ent_off)
        nv = n * ns
        if not len(counts) or counts[0] == 0 or (counts != counts[0]).any():
            return None
        nk = int(counts[0])
        keys = fm.keys
        vals = pc.fill_null(fm.items, ".")  # null value -> missing, as scalar
        pattern = keys[:nk].to_pylist()
        if len(set(pattern)) != nk:
            return None
        tiled = pa.array(pattern * nv, pa.string())
        if not pc.all(pc.equal(keys, tiled)).as_py():
            return None
        order = list(range(nk))
        if "GT" in pattern and pattern.index("GT") != 0:
            gi = pattern.index("GT")
            order = [gi] + [i for i in range(nk) if i != gi]
        fmt_str = ":".join(pattern[i] for i in order)
        base = np.arange(nv, dtype=np.int64) * nk
        slot_arrays = [
            vals.take(pa.array(base + s, pa.int64())) for s in order
        ]
        per_vg = (
            slot_arrays[0]
            if nk == 1
            else pc.binary_join_element_wise(*slot_arrays, ":")
        )
        sample_cols = [
            per_vg.take(pa.array(np.arange(n, dtype=np.int64) * ns + j, pa.int64()))
            for j in range(ns)
        ]
        line = pc.binary_join_element_wise(
            line, pa.scalar(fmt_str), *sample_cols, "\t"
        )
    blob = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, n], pa.int32()), line),
        pa.scalar("\n"),
    )[0].as_py()
    return (blob + "\n").encode("utf-8", "surrogateescape")


def interval_mask(
    arrays: dict, intervals, n: int
) -> Optional[np.ndarray]:
    """Vectorized residual overlap filter over (contig, start, end)."""
    if intervals is None:
        return None
    contig = arrays["contig"]
    start = arrays["start"].to_numpy(zero_copy_only=False)
    end = arrays["end"].to_numpy(zero_copy_only=False)
    mask = np.zeros(n, dtype=bool)
    for c, s, stop in intervals:
        cm = pc.equal(contig, c).to_numpy(zero_copy_only=False)
        mask |= cm & (start <= stop) & (s <= end)
    return mask
