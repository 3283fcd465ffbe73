"""Vectorized (columnar) BCF2 record decode — numpy over block buffers.

The BCF read rim was the last scalar per-record inner loop
(formats/bcf.py:decode_record, ~68 krec/s). This module applies the
``bam_vec`` treatment: a batch of records decodes straight into Arrow
arrays with no per-record Python tuples on the hot path.

- the fixed 32-byte site prefix (l_shared/l_indiv/CHROM/POS/rlen/QUAL/
  n_allele_info/n_fmt_sample) for the whole batch is gathered with ONE
  fancy-index and reinterpreted through a structured dtype;
- the variable typed-value walk (ID, alleles, FILTER, INFO, FORMAT) keeps a
  per-record offset *array* and advances it with masked vector ops — each
  field position is visited once per batch, not once per record;
- low-cardinality values (FILTER sets, GT genotype tuples) decode via
  ``np.unique`` + the EXACT scalar formatting code per unique row, so
  parity with :func:`bcf.decode_record_ref` is by construction;
- integer stringification runs through a single ``pyarrow.compute.cast``
  per (field × batch); float ``%g`` formatting runs once per *unique* bit
  pattern; vector values (Number=A/G/R) join elements with a fully
  vectorized comma-interleave gather;
- anything outside BCF2's common shapes (reserved type 4, malformed
  descriptors) raises :class:`VecUnsupported` and the caller falls back to
  the scalar decoder for that batch — semantics never depend on the fast
  path.

Fills the role of htsjdk's BCF2 codec behind the reference's
BCFRecordReader.java:70-173 — the reference gets this speed from JVM
bytecode; we get it from batch vectorization. ``decode_record_ref`` stays
as the property-tested parity oracle (tests/test_bcf_vec.py).
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from hadoop_bam_spark.formats import bcf as sb
from hadoop_bam_spark.formats.bam_vec import _gather, _validity


class VecUnsupported(ValueError):
    """Batch contains a shape the vectorized decoder does not cover;
    the caller must re-decode the batch with the scalar path."""


#: BCF2 record fixed prefix (hts-specs §6.3.1), exactly 32 bytes.
PREFIX_DTYPE = np.dtype(
    [
        ("l_shared", "<u4"),
        ("l_indiv", "<u4"),
        ("chrom", "<i4"),
        ("pos", "<i4"),
        ("rlen", "<i4"),
        ("qual_bits", "<u4"),
        ("n_allele_info", "<u4"),
        ("n_fmt_sample", "<u4"),
    ]
)
assert PREFIX_DTYPE.itemsize == 32

_INT_TYPES = (1, 2, 3)
_INT_DT = {1: np.dtype("i1"), 2: np.dtype("<i2"), 3: np.dtype("<i4")}
_INT_W = {1: 1, 2: 2, 3: 4}
#: bytes per element by type code; -1 marks the reserved codes
_TYPE_W = np.array([0, 1, 2, 4, -1, 4, -1, 1] + [-1] * 8, dtype=np.int64)
_MISS = sb._INT_MISSING
_EOV = sb._INT_EOV
_F_MISS = sb._FLOAT_MISSING_BITS
_F_EOV = sb._FLOAT_EOV_BITS


def _unique_rows(mat: np.ndarray):
    """np.unique(axis=0) replacement: BCF ints fit 32 bits, so 1- and
    2-column matrices pack into one uint64 and sort with the fast 1-D
    kernel (axis-0 unique argsorts a void dtype — the profile's hotspot).
    Returns (uniq_rows (u, c), inv (k,))."""
    k, c = mat.shape
    if c == 1:
        uniq, inv = np.unique(mat[:, 0], return_inverse=True)
        return uniq[:, None], inv
    if c == 2:
        off = np.uint64(1 << 31)
        packed = (
            ((mat[:, 0].astype(np.int64) + (1 << 31)).astype(np.uint64)
             << np.uint64(32))
            | (mat[:, 1].astype(np.int64) + (1 << 31)).astype(np.uint64)
        )
        up, inv = np.unique(packed, return_inverse=True)
        v0 = (up >> np.uint64(32)).astype(np.int64) - (1 << 31)
        v1 = (up & np.uint64(0xFFFFFFFF)).astype(np.int64) - (1 << 31)
        return np.stack([v0, v1], axis=1), inv
    uniq, inv = np.unique(mat, axis=0, return_inverse=True)
    return uniq, np.asarray(inv).reshape(-1)


def _take_bytes(arr: np.ndarray, p: np.ndarray, act: np.ndarray) -> np.ndarray:
    out = np.zeros(len(p), dtype=np.uint8)
    if act.any():
        out[act] = arr[p[act]]
    return out


def _gather_fixed(arr: np.ndarray, p: np.ndarray, width: int) -> np.ndarray:
    """(k, width) uint8 matrix of arr[p[i] : p[i]+width]."""
    if len(p) == 0:
        return np.empty((0, width), dtype=np.uint8)
    return arr[p[:, None] + np.arange(width, dtype=np.int64)]


def _gather_chars(arr: np.ndarray, st: np.ndarray, ln: np.ndarray):
    """Gather the char cells arr[st[i] : st[i]+ln[i]], each cut at its
    first NUL (as bcf._chars): (values, offsets, cut lengths)."""
    vals, off = _gather(arr, st, ln)
    nul = np.flatnonzero(vals == 0)
    if not nul.size:
        return vals, off, ln
    cells, first = np.unique(np.searchsorted(off, nul, side="right") - 1,
                             return_index=True)
    ln = np.array(ln, dtype=np.int64)
    ln[cells] = nul[first] - off[cells]
    vals, off = _gather(arr, st, ln)
    return vals, off, ln


def _ints_at(arr: np.ndarray, p: np.ndarray, typ: int, count: int) -> np.ndarray:
    """(k, count) int64 matrix of typed ints at per-record offsets."""
    w = _INT_W[typ]
    raw = _gather_fixed(arr, p, count * w)
    return (
        raw.copy().view(_INT_DT[typ]).reshape(len(p), count).astype(np.int64)
    )


def _read_scalar_int(arr, p, act):
    """Vector form of bcf._scalar_int (typed scalar int, count nibble 1)."""
    desc = _take_bytes(arr, p, act)
    typ = (desc & 0x0F).astype(np.int64)
    cnt = (desc >> 4).astype(np.int64)
    if (act & (cnt != 1)).any():
        raise VecUnsupported("typed scalar int with count != 1")
    p2 = p + act
    val = np.zeros(len(p), dtype=np.int64)
    for t in _INT_TYPES:
        m = act & (typ == t)
        if m.any():
            val[m] = _ints_at(arr, p2[m], t, 1)[:, 0]
            p2 = p2 + m * _INT_W[t]
    if (act & ~np.isin(typ, _INT_TYPES)).any():
        raise VecUnsupported("typed scalar int with non-int type")
    return val, p2


def _read_desc(arr, p, act):
    """Vector form of bcf._read_typed_descriptor -> (typ, count, p_after)."""
    desc = _take_bytes(arr, p, act)
    typ = (desc & 0x0F).astype(np.int64)
    cnt = (desc >> 4).astype(np.int64)
    p2 = p + act
    ext = act & (cnt == 15)
    if ext.any():
        v, p3 = _read_scalar_int(arr, p2, ext)
        cnt = np.where(ext, v, cnt)
        p2 = np.where(ext, p3, p2)
    return typ, cnt, p2


class _Aux:
    """Append-only byte arena; cells are (absolute start, len) pairs into
    the concatenated buffer. Static cells for ".", "true" live at the
    front."""

    DOT = (0, 1)
    TRUE = (1, 4)

    def __init__(self):
        self._chunks = [np.frombuffer(b".true", dtype=np.uint8)]
        self._base = 5
        self._cat: Optional[np.ndarray] = None

    def add(self, chunk: np.ndarray) -> int:
        """Append a uint8 chunk; returns its base offset."""
        base = self._base
        if len(chunk):
            self._chunks.append(chunk)
            self._base += len(chunk)
            self._cat = None
        return base

    def buffer(self) -> np.ndarray:
        if self._cat is None:
            self._cat = (
                self._chunks[0]
                if len(self._chunks) == 1
                else np.concatenate(self._chunks)
            )
            self._chunks = [self._cat]
        return self._cat


def _int_str_cells(vals: np.ndarray):
    """Decimal string cells for an int64 array via one Arrow cast:
    (bytes chunk, starts-in-chunk, lens)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if len(vals) == 0:
        empty = np.empty(0, dtype=np.int64)
        return np.empty(0, dtype=np.uint8), empty, empty
    sa = pc.cast(pa.array(vals), pa.string())
    off = np.frombuffer(sa.buffers()[1], dtype="<i4").astype(np.int64)
    data = sa.buffers()[2]
    vbytes = (
        np.frombuffer(data, dtype=np.uint8)[: off[-1]]
        if data is not None
        else np.empty(0, dtype=np.uint8)
    )
    return vbytes, off[:-1], off[1:] - off[:-1]


def _float_str_cells(bits: np.ndarray):
    """'%g' string cells for float32 bit patterns, formatted once per
    unique pattern (cohort float fields repeat heavily)."""
    uniq, inv = np.unique(bits, return_inverse=True)
    floats = uniq.astype(np.uint32).view(np.float32)
    blobs = []
    starts = np.empty(len(uniq), dtype=np.int64)
    lens = np.empty(len(uniq), dtype=np.int64)
    at = 0
    for i, f in enumerate(floats):
        s = ("%g" % float(f)).encode()
        blobs.append(s)
        starts[i] = at
        lens[i] = len(s)
        at += len(s)
    chunk = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    return chunk, starts[inv], lens[inv]


def _join_cells(elem_chunk, elem_starts, elem_lens, eff, count):
    """Comma-join per-row element cells: rows have ``eff[r]`` elements of a
    (k, count) element grid laid out row-major in ``elem_*``. Returns
    (bytes chunk, row starts, row lens) for the joined strings (rows with
    eff == 0 get an empty cell)."""
    k = len(eff)
    local = np.concatenate([np.frombuffer(b",", dtype=np.uint8), elem_chunk])
    ncell = np.maximum(2 * eff - 1, 0)
    total = int(ncell.sum())
    if total == 0:
        z = np.zeros(k, dtype=np.int64)
        return np.empty(0, dtype=np.uint8), z, z
    row_of = np.repeat(np.arange(k, dtype=np.int64), ncell)
    cell0 = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(ncell, out=cell0[1:])
    pos_in_row = np.arange(total, dtype=np.int64) - cell0[row_of]
    is_elem = (pos_in_row & 1) == 0
    elem_idx = row_of * count + (pos_in_row >> 1)
    st = np.where(is_elem, elem_starts[elem_idx] + 1, 0)
    ln = np.where(is_elem, elem_lens[elem_idx], 1)
    vals, _ = _gather(local, st, ln)
    # per-row byte lengths = sum of cell lens per row
    lens_cum = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(ln, out=lens_cum[1:])
    row_lens = lens_cum[cell0[1:]] - lens_cum[cell0[:-1]]
    row_starts = np.zeros(k, dtype=np.int64)
    np.cumsum(row_lens[:-1], out=row_starts[1:])
    return vals, row_starts, row_lens


def _string_array_utf8(vals: np.ndarray, offsets: np.ndarray,
                       null_mask: Optional[np.ndarray] = None):
    """uint8 values + int64 offsets -> Arrow string array, with the SAME
    decode semantics as the scalar path (utf-8, errors='replace') when
    non-ASCII bytes are present."""
    import pyarrow as pa

    n = len(offsets) - 1
    if vals.size and int(vals.max()) >= 128:
        bs = vals.tobytes()
        out = []
        for i in range(n):
            if null_mask is not None and null_mask[i]:
                out.append(None)
            else:
                out.append(bs[offsets[i]: offsets[i + 1]].decode("utf-8",
                                                                "replace"))
        return pa.array(out, type=pa.string())
    nulls, null_count = _validity(null_mask, n)
    return pa.StringArray.from_buffers(
        n,
        pa.py_buffer(offsets.astype(np.int32).tobytes()),
        pa.py_buffer(vals.tobytes()),
        nulls,
        null_count,
    )


def _rowmajor(starts_cols, lens_cols, valid_cols):
    """Transpose per-field (column-major) cell arrays to row-major flat
    cells. Inputs are lists of (n,)-arrays, one per field; returns
    (starts_flat, lens_flat, counts_per_row) ordered (row, field)."""
    if not starts_cols:
        n = 0
        z = np.empty(0, dtype=np.int64)
        return z, z, np.zeros(n, dtype=np.int64)
    st = np.stack(starts_cols, axis=1)     # (n, J)
    ln = np.stack(lens_cols, axis=1)
    va = np.stack(valid_cols, axis=1)
    return st[va], ln[va], va.sum(axis=1).astype(np.int64)


class BCFBatchDecoder:
    """Columnar decoder bound to one file's BCF header.

    ``decode(buf, starts, ...)`` -> dict of VCF column name -> pyarrow
    array for the requested ``fields`` (any subset of VCF_SCHEMA), after
    applying the optional vectorized interval-overlap residual."""

    def __init__(self, hdr: "sb.BCFHeader", fields: Optional[list] = None):
        self.hdr = hdr
        self.fields = list(fields) if fields is not None else [
            "contig", "start", "end", "id", "ref", "alts", "qual",
            "filters", "info", "genotypes",
        ]
        # header string-dictionary blob for vectorized key lookup
        strs = [s if isinstance(s, str) else "" for s in hdr.strings]
        blob = "".join(strs).encode()
        self._str_blob = np.frombuffer(blob, dtype=np.uint8)
        self._str_off = np.zeros(len(strs) + 1, dtype=np.int64)
        np.cumsum([len(s.encode()) for s in strs], out=self._str_off[1:])
        try:
            self._gt_idx = hdr.strings.index("GT")
        except ValueError:
            self._gt_idx = -1
        self._samples = list(hdr.vcf.samples or [])
        self._flag_idx = np.array(sorted(hdr.info_flag_idx), dtype=np.int64)

    # ---------------------------------------------------------------- api

    def decode(self, buf, starts: np.ndarray, intervals_by_rid=None):
        """``buf``: bytes containing whole records at ``starts`` (absolute
        offsets of each record's l_shared word). Returns column dict or
        None when the interval residual leaves zero rows.

        Corrupt bytes surface as :class:`VecUnsupported` (numpy's OOB
        fancy-indexing IndexError translated), so the caller's scalar
        fallback — which raises a clean ValueError per record — owns the
        malformed-stream contract; no crash leaks from the batch path."""
        try:
            return self._decode_unchecked(buf, starts, intervals_by_rid)
        except (IndexError, KeyError, OverflowError) as e:
            raise VecUnsupported(f"corrupt batch: {e}") from e

    def _decode_unchecked(self, buf, starts: np.ndarray,
                          intervals_by_rid=None):
        import pyarrow as pa

        arr = np.frombuffer(buf, dtype=np.uint8)
        starts = np.asarray(starts, dtype=np.int64)
        n = len(starts)
        if n == 0:
            return None
        pre = _gather_fixed(arr, starts, 32).copy().view(PREFIX_DTYPE).ravel()
        chrom = pre["chrom"].astype(np.int64)
        pos = pre["pos"].astype(np.int64)
        rlen = pre["rlen"].astype(np.int64)
        if intervals_by_rid is not None:
            start1 = pos + 1
            end1 = pos + rlen
            m = np.zeros(n, dtype=bool)
            for irid, lo, hi in intervals_by_rid:
                m |= (chrom == irid) & (start1 <= hi) & (lo <= end1)
            if not m.any():
                return None
            if not m.all():
                starts = starts[m]
                pre = pre[m]
                chrom = chrom[m]
                pos = pos[m]
                rlen = rlen[m]
                n = len(starts)

        cols: dict = {}
        want = set(self.fields)
        if "contig" in want:
            names = pa.array(self.hdr.contigs, type=pa.string())
            cols["contig"] = names.take(pa.array(chrom))
        if "start" in want:
            cols["start"] = pa.array(pos + 1, type=pa.int64())
        if "end" in want:
            cols["end"] = pa.array(pos + rlen, type=pa.int64())
        if "qual" in want:
            qb = pre["qual_bits"].copy()
            null = qb == _F_MISS
            qb[null] = 0  # avoid NaN-cast warnings on masked slots
            vals = qb.view(np.float32).astype(np.float64)
            cols["qual"] = pa.array(vals, type=pa.float64(), mask=null)

        n_allele = (pre["n_allele_info"] >> 16).astype(np.int64)
        n_info = (pre["n_allele_info"] & 0xFFFF).astype(np.int64)
        n_sample = (pre["n_fmt_sample"] & 0xFFFFFF).astype(np.int64)
        n_fmt = (pre["n_fmt_sample"] >> 24).astype(np.int64)
        shared_end = starts + 8 + pre["l_shared"].astype(np.int64)

        depth = 0  # how far the shared-section walk must go
        if "id" in want:
            depth = max(depth, 1)
        if "ref" in want or "alts" in want:
            depth = max(depth, 2)
        if "filters" in want:
            depth = max(depth, 3)
        if "info" in want:
            depth = max(depth, 4)

        all_act = np.ones(n, dtype=bool)
        p = starts + 32
        if depth >= 1:
            typ, cnt, p2 = _read_desc(arr, p, all_act)
            if (typ != 7).any():
                raise VecUnsupported("non-string ID field")
            if "id" in want:
                vals, off, ln = _gather_chars(arr, p2, cnt)
                cols["id"] = _string_array_utf8(vals, off, ln == 0)
            p = p2 + cnt
        if depth >= 2:
            max_a = int(n_allele.max()) if n else 0
            a_st, a_ln, a_act = [], [], []
            for j in range(max_a):
                act = n_allele > j
                typ, cnt, p2 = _read_desc(arr, p, act)
                if (act & (typ != 7)).any():
                    raise VecUnsupported("non-string allele")
                a_st.append(np.where(act, p2, 0))
                a_ln.append(np.where(act, cnt, 0))
                a_act.append(act)
                p = np.where(act, p2 + cnt, p)
            if "ref" in want:
                if max_a:
                    # a_st/a_ln are 0 where a record has no allele
                    vals, off, ln = _gather_chars(arr, a_st[0], a_ln[0])
                    cols["ref"] = _string_array_utf8(vals, off, ln == 0)
                else:
                    cols["ref"] = pa.nulls(n, pa.string())
            if "alts" in want:
                st, ln, counts = _rowmajor(a_st[1:], a_ln[1:], a_act[1:])
                vals, off, ln = _gather_chars(arr, st, ln)
                elems = _string_array_utf8(vals, off, ln == 0)
                offsets = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(counts, out=offsets[1:])
                row_null = n_allele <= 1
                # a null START offset marks list element i null (its span is
                # empty, so the neighbor absorbing it is a no-op)
                po = pa.concat_arrays([
                    pa.array(offsets[:-1].astype(np.int32),
                             type=pa.int32(), mask=row_null),
                    pa.array([int(offsets[-1])], type=pa.int32()),
                ])
                cols["alts"] = pa.ListArray.from_arrays(po, elems)
        if depth >= 3:
            p, filt = self._decode_filters(arr, p, n, "filters" in want)
            if "filters" in want:
                cols["filters"] = filt
        if depth >= 4:
            cols["info"] = self._decode_info(arr, p, n, n_info)
        if "genotypes" in want:
            cols["genotypes"] = self._decode_genotypes(
                arr, shared_end, n, n_fmt, n_sample
            )
        return cols

    # ---------------------------------------------------------- sections

    def _decode_filters(self, arr, p, n, build):
        """FILTER typed int vector -> ListArray of filter names; exact
        scalar semantics via np.unique rows + the scalar trim loop (a
        cohort has a handful of distinct FILTER sets)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        all_act = np.ones(n, dtype=bool)
        typ, cnt, p2 = _read_desc(arr, p, all_act)
        empty = (typ == 0) | (cnt == 0)
        groups = {}
        for t in _INT_TYPES:
            m = ~empty & (typ == t)
            if m.any():
                um = np.unique(cnt[m])
                for c in um:
                    groups[(t, int(c))] = m & (cnt == c)
        covered = empty.copy()
        for g in groups.values():
            covered |= g
        if not covered.all():
            raise VecUnsupported("FILTER with non-int typed vector")
        # advance p past the vector data
        adv = np.zeros(n, dtype=np.int64)
        for (t, c), m in groups.items():
            adv[m] = c * _INT_W[t]
        p_out = p2 + adv
        if not build:
            return p_out, None
        uniq_lists: list = []
        inv_all = np.full(n, -1, dtype=np.int64)
        strings = self.hdr.strings
        for (t, c), m in groups.items():
            mat = _ints_at(arr, p2[m], t, c)
            uniq, inv = _unique_rows(mat)
            base = len(uniq_lists)
            eov, miss = _EOV[t], _MISS[t]
            for row in uniq:
                fv = []
                for v in row:
                    if v == eov:
                        break
                    fv.append(None if v == miss else int(v))
                uniq_lists.append(
                    [strings[i] for i in fv] if fv else None
                )
            inv_all[m] = base + inv
        if empty.any():
            uniq_lists.append(None)
            inv_all[empty] = len(uniq_lists) - 1
        ulist = pa.array(uniq_lists, type=pa.list_(pa.string()))
        return p_out, pc.take(ulist, pa.array(inv_all))

    def _decode_info(self, arr, p, n, n_info):
        """INFO -> MapArray<string,string>; every field present with a
        formatted value (scalar parity: flags 'true', missing '.')."""
        import pyarrow as pa

        aux = _Aux()
        max_i = int(n_info.max()) if n else 0
        k_st, k_ln, v_st, v_ln, acts = [], [], [], [], []
        for _j in range(max_i):
            act = n_info > _j
            key_idx, p = _read_scalar_int(arr, p, act)
            typ, cnt, p = _read_desc(arr, p, act)
            ks = self._str_off[np.clip(key_idx, 0, len(self._str_off) - 2)]
            ke = self._str_off[np.clip(key_idx + 1, 0, len(self._str_off) - 1)]
            k_st.append(np.where(act, ks, 0))
            k_ln.append(np.where(act, ke - ks, 0))
            vst = np.zeros(n, dtype=np.int64)
            vln = np.zeros(n, dtype=np.int64)
            adv = np.zeros(n, dtype=np.int64)

            width = _TYPE_W[typ]
            if (act & (width < 0)).any():
                raise VecUnsupported("INFO reserved/unknown type")
            # a flag, whatever its value (spec §6.3.3): skip the value
            flag = act & ((typ == 0) | np.isin(key_idx, self._flag_idx))
            if flag.any():
                vst[flag], vln[flag] = _Aux.TRUE
                adv[flag] = cnt[flag] * width[flag]
            rest = act & ~flag
            strm = rest & (typ == 7)
            if strm.any():
                # copy string bytes into the arena (values must live in one
                # buffer for the final row-major map gather)
                sel = np.flatnonzero(strm)
                vals, off, ln = _gather_chars(arr, p[sel], cnt[sel])
                base = aux.add(vals)
                vst[sel] = base + off[:-1]
                vln[sel] = ln
                dot = sel[ln == 0]
                vst[dot], vln[dot] = _Aux.DOT
                adv[strm] = cnt[strm]
            intm = rest & np.isin(typ, _INT_TYPES)
            fltm = rest & (typ == 5)
            for t in _INT_TYPES:
                for c in (np.unique(cnt[intm & (typ == t)])
                          if (intm & (typ == t)).any() else ()):
                    m = intm & (typ == t) & (cnt == c)
                    c = int(c)
                    adv[m] = c * _INT_W[t]
                    if c == 0:
                        vst[m], vln[m] = _Aux.DOT
                        continue
                    sel = np.flatnonzero(m)
                    mat = _ints_at(arr, p[sel], t, c)
                    s, l = self._int_vector_cells(aux, mat, t)
                    vst[sel], vln[sel] = s, l
            for c in (np.unique(cnt[fltm]) if fltm.any() else ()):
                m = fltm & (cnt == c)
                c = int(c)
                adv[m] = 4 * c
                if c == 0:
                    vst[m], vln[m] = _Aux.DOT
                    continue
                sel = np.flatnonzero(m)
                bits = (
                    _gather_fixed(arr, p[sel], 4 * c)
                    .copy().view("<u4").reshape(len(sel), c)
                )
                s, l = self._float_vector_cells(aux, bits)
                vst[sel], vln[sel] = s, l
            p = p + adv
            v_st.append(vst)
            v_ln.append(vln)
            acts.append(act)
        return self._map_from_cells(
            aux, n, k_st, k_ln, v_st, v_ln, acts, acts, None
        )

    def _int_vector_cells(self, aux, mat, t):
        """(k, c) int matrix -> joined '1,.,3' cells in the arena; empty
        (all-EOV) rows get '.' (scalar INFO parity)."""
        k, c = mat.shape
        eov, miss = _EOV[t], _MISS[t]
        hit = mat == eov
        eff = np.where(hit.any(axis=1), hit.argmax(axis=1), c)
        chunk, est, eln = _int_str_cells(mat.ravel())
        missing = (mat == miss).ravel()
        if missing.any():
            # '.' element: point into a local 1-byte prefix
            chunk = np.concatenate(
                [np.frombuffer(b".", dtype=np.uint8), chunk]
            )
            est = np.where(missing, 0, est + 1)
            eln = np.where(missing, 1, eln)
        jchunk, jst, jln = _join_cells(chunk, est, eln, eff, c)
        base = aux.add(jchunk)
        st = base + jst
        ln = jln
        dot = eff == 0
        st = np.where(dot, _Aux.DOT[0], st)
        ln = np.where(dot, _Aux.DOT[1], ln)
        return st, ln

    def _float_vector_cells(self, aux, bits):
        """(k, c) float32-bit matrix -> joined '%g' cells; same missing/
        EOV semantics as _read_vector + _fmt_value."""
        k, c = bits.shape
        hit = bits == _F_EOV
        eff = np.where(hit.any(axis=1), hit.argmax(axis=1), c)
        flat = bits.ravel()
        chunk, est, eln = _float_str_cells(flat)
        missing = flat == _F_MISS
        if missing.any():
            chunk = np.concatenate(
                [np.frombuffer(b".", dtype=np.uint8), chunk]
            )
            est = np.where(missing, 0, est + 1)
            eln = np.where(missing, 1, eln)
        jchunk, jst, jln = _join_cells(chunk, est, eln, eff, c)
        base = aux.add(jchunk)
        st = base + jst
        ln = jln
        dot = eff == 0
        st = np.where(dot, _Aux.DOT[0], st)
        ln = np.where(dot, _Aux.DOT[1], ln)
        return st, ln

    def _decode_genotypes(self, arr, shared_end, n, n_fmt, n_sample):
        """FORMAT/sample section -> ListArray<Struct<sample, gt, fields>>
        (scalar parity: keys omitted when a sample's value is absent)."""
        import pyarrow as pa

        aux = _Aux()
        row_null = (n_fmt == 0) | (n_sample == 0)
        ns_eff = np.where(row_null, 0, n_sample)
        total = int(ns_eff.sum())
        rec_of = np.repeat(np.arange(n, dtype=np.int64), ns_eff)
        cum0 = np.zeros(n, dtype=np.int64)
        np.cumsum(ns_eff[:-1], out=cum0[1:])
        samp_of = np.arange(total, dtype=np.int64) - cum0[rec_of]

        max_f = int(n_fmt.max()) if n else 0
        p2 = shared_end.copy()
        k_st, k_ln, v_st, v_ln, acts, pres = [], [], [], [], [], []
        gt_slot = np.full(total, -1, dtype=np.int64)  # index into gt uniq
        gt_uniq: list = [None]
        for _j in range(max_f):
            act = n_fmt > _j
            key_idx, p2 = _read_scalar_int(arr, p2, act)
            typ, cnt, p2 = _read_desc(arr, p2, act)
            skip = act & ((typ == 0) | (cnt == 0))
            eff_act = act & ~skip
            ks = self._str_off[np.clip(key_idx, 0, len(self._str_off) - 2)]
            ke = self._str_off[np.clip(key_idx + 1, 0, len(self._str_off) - 1)]
            k_st.append(np.where(act, ks, 0)[rec_of])
            k_ln.append(np.where(act, ke - ks, 0)[rec_of])
            width = np.zeros(n, dtype=np.int64)
            for t in _INT_TYPES:
                width[eff_act & (typ == t)] = _INT_W[t]
            width[eff_act & (typ == 5)] = 4
            width[eff_act & (typ == 7)] = 1
            if (eff_act & (width == 0)).any():
                raise VecUnsupported("FORMAT reserved/unknown type")
            data_start = p2.copy()
            p2 = p2 + np.where(eff_act, n_sample * cnt * width, 0)

            sl_act = eff_act[rec_of]
            vst = np.zeros(total, dtype=np.int64)
            vln = np.zeros(total, dtype=np.int64)
            present = np.zeros(total, dtype=bool)
            cell0 = (data_start[rec_of]
                     + samp_of * cnt[rec_of] * width[rec_of])
            is_gt = (
                (key_idx == self._gt_idx)[rec_of]
                & sl_act
                & np.isin(typ, _INT_TYPES)[rec_of]
            )
            strm = sl_act & (typ == 7)[rec_of]
            if strm.any():
                sel = np.flatnonzero(strm)
                vals, off, lens = _gather_chars(arr, cell0[sel], cnt[rec_of][sel])
                base = aux.add(vals)
                vst[sel] = base + off[:-1]
                vln[sel] = lens
                present[sel] = lens > 0
            for t in _INT_TYPES:
                tm = sl_act & (typ == t)[rec_of] & ~strm
                for c in (np.unique(cnt[rec_of][tm]) if tm.any() else ()):
                    m = tm & (cnt[rec_of] == c)
                    c = int(c)
                    sel = np.flatnonzero(m)
                    mat = _ints_at(arr, cell0[sel], t, c)
                    gsel = is_gt[sel]
                    if gsel.any():
                        gidx = sel[gsel]
                        gt_slot[gidx] = self._gt_values(
                            mat[gsel], t, gt_uniq
                        )
                        g = gt_slot[gidx]
                        # GT also lands in the attrs map when not None
                        nn = np.array(
                            [x is not None for x in gt_uniq], dtype=bool
                        )
                        gp = nn[g]
                        s, l = self._gt_cells(aux, g, gt_uniq)
                        vst[gidx], vln[gidx] = s, l
                        present[gidx] = gp
                    rest = ~gsel
                    if rest.any():
                        rsel = sel[rest]
                        rmat = mat[rest]
                        s, l, pr = self._fmt_numeric_cells(
                            aux, rmat, t, None
                        )
                        vst[rsel], vln[rsel], present[rsel] = s, l, pr
            fm = sl_act & (typ == 5)[rec_of]
            for c in (np.unique(cnt[rec_of][fm]) if fm.any() else ()):
                m = fm & (cnt[rec_of] == c)
                c = int(c)
                sel = np.flatnonzero(m)
                bits = (
                    _gather_fixed(arr, cell0[sel], 4 * c)
                    .copy().view("<u4").reshape(len(sel), c)
                )
                s, l, pr = self._fmt_numeric_cells(aux, bits, None, 5)
                vst[sel], vln[sel], present[sel] = s, l, pr
            v_st.append(vst)
            v_ln.append(vln)
            acts.append(act[rec_of])
            pres.append(present)

        attrs = self._map_from_cells(
            aux, total, k_st, k_ln, v_st, v_ln, pres, pres, None
        )
        # gt column: gt_uniq[0] is the None placeholder, so unset
        # slots (-1) map to it and the whole column is one take
        gt_col = pa.array(gt_uniq, type=pa.string()).take(
            pa.array(np.where(gt_slot < 0, 0, gt_slot))
        )
        # sample names
        samples = self._samples
        max_s = int(n_sample.max()) if n else 0
        if len(samples) < max_s:
            samples = samples + [
                f"S{i}" for i in range(len(samples), max_s)
            ]
        sn = pa.array(samples[:max_s] or [""], type=pa.string())
        sample_col = sn.take(pa.array(samp_of))
        struct = pa.StructArray.from_arrays(
            [sample_col, gt_col, attrs],
            fields=[
                # nullability must match Spark's arrow schema or the final
                # cast refuses (sample is non-null in VCF_SCHEMA)
                pa.field("sample", pa.string(), nullable=False),
                pa.field("gt", pa.string()),
                pa.field("fields", pa.map_(pa.string(), pa.string())),
            ],
        )
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(ns_eff, out=offsets[1:])
        po = pa.concat_arrays([
            pa.array(offsets[:-1].astype(np.int32), type=pa.int32(),
                     mask=row_null),
            pa.array([int(offsets[-1])], type=pa.int32()),
        ])
        return pa.ListArray.from_arrays(po, struct)

    # ------------------------------------------------------------ helpers

    def _gt_values(self, mat, t, gt_uniq):
        """GT matrices -> indexes into gt_uniq, formatting once per unique
        genotype row with the EXACT scalar trim + cache logic."""
        uniq, inv = _unique_rows(mat)
        eov, miss = _EOV[t], _MISS[t]
        base = len(gt_uniq)
        for row in uniq:
            sub = tuple(int(v) for v in row)
            if eov in sub or miss in sub:
                tl = []
                for v in sub:
                    if v == eov:
                        break
                    tl.append(None if v == miss else v)
                sub = tuple(tl)
            gt = sb._GT_CACHE.get(sub, 0)
            if gt == 0:
                gt = sb._gt_cached(sub)
            gt_uniq.append(gt)
        return base + inv

    def _gt_cells(self, aux, idxs, gt_uniq):
        """Arena cells for gt strings selected by uniq indexes."""
        uniq_ids = np.unique(idxs)
        blob = []
        st_map = {}
        at = 0
        for i in uniq_ids:
            s = gt_uniq[i]
            b = s.encode() if s is not None else b""
            st_map[i] = (at, len(b))
            blob.append(b)
            at += len(b)
        base = aux.add(np.frombuffer(b"".join(blob), dtype=np.uint8))
        st = np.empty(len(idxs), dtype=np.int64)
        ln = np.empty(len(idxs), dtype=np.int64)
        for i in uniq_ids:
            m = idxs == i
            s0, l0 = st_map[i]
            st[m] = base + s0
            ln[m] = l0
        return st, ln

    def _fmt_numeric_cells(self, aux, mat, t, float_typ):
        """FORMAT non-GT numeric matrix -> (cells, presence). Scalar
        semantics: EOV-trim; all-EOV or single-missing -> absent; missing
        elements inside a longer vector -> '.'."""
        k, c = mat.shape
        if float_typ == 5:
            hit = mat == _F_EOV
            missing_flat = (mat == _F_MISS).ravel()
        else:
            hit = mat == _EOV[t]
            missing_flat = (mat == _MISS[t]).ravel()
        eff = np.where(hit.any(axis=1), hit.argmax(axis=1), c)
        if float_typ == 5:
            chunk, est, eln = _float_str_cells(mat.ravel())
        else:
            chunk, est, eln = _int_str_cells(mat.ravel())
        if missing_flat.any():
            chunk = np.concatenate(
                [np.frombuffer(b".", dtype=np.uint8), chunk]
            )
            est = np.where(missing_flat, 0, est + 1)
            eln = np.where(missing_flat, 1, eln)
        jchunk, jst, jln = _join_cells(chunk, est, eln, eff, c)
        base = aux.add(jchunk)
        first_missing = missing_flat.reshape(k, c)[:, 0] if c else (
            np.zeros(k, dtype=bool)
        )
        present = (eff > 0) & ~((eff == 1) & first_missing)
        return base + jst, jln, present

    def _map_from_cells(self, aux, n_rows, k_st, k_ln, v_st, v_ln,
                        k_valid, v_valid, row_null):
        """Assemble a MapArray<string,string> from per-field key cells
        (into the header-strings blob) and value cells (into the arena)."""
        import pyarrow as pa

        if not k_st:
            offsets = pa.array(
                np.zeros(n_rows + 1, dtype=np.int32), type=pa.int32()
            )
            empty = pa.array([], type=pa.string())
            return pa.MapArray.from_arrays(offsets, empty, empty)
        kst, kln, counts = _rowmajor(k_st, k_ln, k_valid)
        kvals, koff = _gather(self._str_blob, kst, kln)
        keys = _string_array_utf8(kvals, koff)
        vst, vln, _ = _rowmajor(v_st, v_ln, v_valid)
        buf = aux.buffer()
        vvals, voff = _gather(buf, vst, vln)
        items = _string_array_utf8(vvals, voff)
        offsets = np.zeros(n_rows + 1, dtype=np.int64)
        np.cumsum(counts, out=offsets[1:])
        return pa.MapArray.from_arrays(
            pa.array(offsets.astype(np.int32), type=pa.int32()), keys, items
        )
