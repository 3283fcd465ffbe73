"""Vectorized (columnar) BAM record encode — the write-side twin of
``formats/bam_vec.py``.

Instead of `struct.pack`-per-record (formats/bam.py:encode_record — kept
for row-iterator codec uses and tests), a whole Arrow batch encodes into
ONE contiguous byte blob:

- per-record section lengths compute vectorized, one cumsum fixes every
  record's position in the preallocated blob;
- the 4-byte length prefix and 32-byte fixed prefix scatter as (n, 4) and
  (n, 32) uint8 matrices through a structured dtype — no per-record pack;
- variable sections (qname / cigar ops / packed seq / qual / tags) scatter
  with the same repeat/cumsum "ramp" index the decoder gathers with;
- sequences nibble-pack in pairs: a 256-entry LUT maps bases to nibbles,
  one ``np.insert`` pads each odd-length record with a 0 nibble, and each
  packed byte is ``nibs[2k] << 4 | nibs[2k + 1]``, written with one
  assignment through the ramp index;
- cigar strings and tag (key, value) pairs are dictionary-encoded first:
  only UNIQUE values pay the Python parse (real data has a handful of
  distinct cigar shapes and low-cardinality tag values), then per-record
  bytes gather from the unique-encodings concat;
- BAI bins (reg2bin) and reference lengths compute as numpy expressions.

Fills the role of htsjdk's BAMRecordCodec.encode behind the reference's
record writer (BAMRecordWriter.java:94-126) — the reference gets this
speed from JVM bytecode; we get it from batch vectorization.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from hadoop_bam_spark.formats.bam import (
    CIGAR_CODE,
    SEQ_NIBBLE,
    _encode_tag_value,
)
from hadoop_bam_spark.formats.bam_vec import PREFIX_DTYPE

#: base char (either case) -> 4-bit code; unknown -> 15 ('N'), matching
#: encode_record's SEQ_NIBBLE.get(c.upper(), 15) fallback.
_SEQ_LUT = np.full(256, 15, dtype=np.uint8)
for _c, _i in SEQ_NIBBLE.items():
    _SEQ_LUT[ord(_c)] = _i
    _SEQ_LUT[ord(_c.lower())] = _i

_CONSUME_REF_MASK = np.zeros(16, dtype=np.int64)
for _c, _i in CIGAR_CODE.items():
    if _c in "MDN=X":
        _CONSUME_REF_MASK[_i] = 1


def reg2bin_vec(beg: np.ndarray, end: np.ndarray, min_shift: int = 14,
                depth: int = 5) -> np.ndarray:
    """Vectorized reg2bin over [beg, end) arrays: the smallest bin of the
    ``(min_shift, depth)`` scheme holding each interval (hts-specs CSI
    reg2bin; BAI and tabix are its (14, 5), SAM spec §5.3)."""
    e = end - 1
    res = np.zeros(len(beg), dtype=np.int64)
    done = np.zeros(len(beg), dtype=bool)
    first = ((1 << 3 * depth) - 1) // 7  # first bin of the finest level
    for level in range(depth, 0, -1):
        shift = min_shift + 3 * (depth - level)
        m = ~done & ((beg >> shift) == (e >> shift))
        res[m] = first + (beg[m] >> shift)
        done |= m
        first -= 1 << 3 * (level - 1)
    return res


def _ramp(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Flat target indices covering [starts[i], starts[i]+lens[i]) ranges.

    int32 indices (blob/batch spans are far below 2 GiB) and a single
    fused repeat: repeat(starts - exclusive_cumsum, lens) + arange."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int32)
    off = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=off[1:])
    idx = np.repeat((starts - off).astype(np.int32), lens)
    idx += np.arange(total, dtype=np.int32)
    return idx


def _exclusive_cumsum(lens: np.ndarray) -> np.ndarray:
    out = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=out[1:])
    return out


def _string_parts(arr) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Arrow string array -> (flat values uint8 in record order, per-record
    lens with nulls as 0, null mask, value dtype ignored). Normalizes away
    array slicing offsets and any null-entry gaps in the data buffer."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if arr.null_count == n or n == 0:
        return (np.empty(0, np.uint8), np.zeros(n, np.int64),
                np.ones(n, dtype=bool) if n else np.zeros(0, bool), None)
    null = np.asarray(arr.is_null())
    bufs = arr.buffers()
    width = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offs = np.frombuffer(bufs[1], dtype=width)[arr.offset: arr.offset + n + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None \
        else np.empty(0, np.uint8)
    lens = (offs[1:] - offs[:-1]).astype(np.int64)
    if not null.any():
        # no nulls -> the data buffer span IS the record-order concat;
        # skip the gather entirely (zero-copy slice)
        return data[int(offs[0]): int(offs[-1])], lens, null, None
    lens[null] = 0
    starts = offs[:-1].astype(np.int64)
    src = _ramp(starts, lens)
    return data[src], lens, null, None


def _int_col(arr, default: int = 0) -> np.ndarray:
    """Arrow numeric array -> int64 numpy with nulls replaced."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        arr = pc.fill_null(arr, default)
    return np.asarray(arr).astype(np.int64)


class VecUnsupported(ValueError):
    """Batch shape outside the vectorized encode fast path."""


class BAMBatchEncoder:
    """Columnar encoder bound to one header's reference dictionary.

    ``encode_batch`` consumes a pyarrow RecordBatch with columns
    (qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq, qual,
    tag_keys: list<string>, tag_vals: list<string>) — the SAM schema with
    the tags map pre-split JVM-side via map_keys/map_values so no Arrow
    map-scalar ``to_pylist`` runs per record (the measured cost that sank
    the earlier row-at-a-time Arrow attempt, sinks.py history).
    """

    def __init__(self, refs: list):
        self.ref_index = {name: i for i, (name, _) in enumerate(refs)}
        self._cigar_cache: dict = {}
        self._tag_cache: dict = {}

    # -- dictionary-encoded helpers -------------------------------------

    def _ref_ids(self, arr) -> np.ndarray:
        import pyarrow as pa
        import pyarrow.compute as pc

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        d = pc.dictionary_encode(arr)
        lut = np.fromiter(
            (self.ref_index.get(s, -1) for s in d.dictionary.to_pylist()),
            np.int64, len(d.dictionary),
        )
        lut = np.concatenate([lut, [-1]])  # extra slot for nulls
        idx = np.asarray(d.indices.fill_null(len(lut) - 1)).astype(np.int64)
        return lut[idx]

    def _cigar_encode(self, cigar: str) -> tuple[bytes, int, int]:
        """cigar text -> (packed ops bytes, n_ops, reference length)."""
        hit = self._cigar_cache.get(cigar)
        if hit is not None:
            return hit
        num = 0
        ops: list = []
        ref_len = 0
        for ch in cigar:
            if ch.isdigit():
                num = num * 10 + ord(ch) - 48
            else:
                code = CIGAR_CODE[ch]
                ops.append((num << 4) | code)
                if _CONSUME_REF_MASK[code]:
                    ref_len += num
                num = 0
        enc = np.asarray(ops, dtype="<u4").tobytes()
        out = (enc, len(ops), max(ref_len, 1))
        if len(self._cigar_cache) < 65536:
            self._cigar_cache[cigar] = out
        return out

    def encode_batch(self, batch):
        """RecordBatch -> (blob bytes, per-record lens int64, stats arrays).

        stats arrays = (ref_id, pos0, end0, mapped) int64/bool: each
        record's reference id, 0-based start, end (start + CIGAR reference
        length, one base when unmapped) and mapped flag — returned so an
        indexing sink can feed bai.IndexBuilder.add_batch without
        re-decoding.

        Shapes outside the vectorized fast path (today: a cigar over
        65535 ops, which needs the SAM spec 4.2.2 CG-tag convention)
        transparently degrade to the scalar per-record encoder for the
        batch — same contract, same bytes as ``bam.encode_record``.
        """
        try:
            return self._encode_batch_vec(batch)
        except VecUnsupported:
            return self._encode_batch_scalar(batch)

    def _encode_batch_scalar(self, batch):
        """Per-row fallback mirroring the vectorized return contract."""
        from hadoop_bam_spark.formats import bam as B

        n = batch.num_rows
        if n == 0:
            empty = np.empty(0, dtype=np.int64)
            return b"", empty, (empty, empty, empty, empty.astype(bool))
        cols = [
            batch.column(i).to_pylist() for i in range(batch.num_columns)
        ]
        blobs, lens = [], np.empty(n, np.int64)
        rid = np.empty(n, np.int64)
        pos0 = np.empty(n, np.int64)
        end0 = np.empty(n, np.int64)
        mapped = np.empty(n, bool)
        for i, vals in enumerate(zip(*cols)):
            row = vals[:11] + (
                dict(zip(vals[11] or (), vals[12] or ())),
            )
            b = B.encode_record(row, self.ref_index)
            blobs.append(b)
            lens[i] = len(b)
            rid[i] = self.ref_index.get(row[2], -1) if row[2] else -1
            p0 = (row[3] or 0) - 1
            pos0[i] = p0
            mapped[i] = (int(row[1]) & 0x4) == 0
            # same min-1 clamp as _cigar_encode's ref_len
            ref_len = max(B.cigar_ref_length(row[5]), 1) if row[5] else 1
            end0[i] = max(p0, 0) + (ref_len if mapped[i] else 1)
        return b"".join(blobs), lens, (rid, pos0, end0, mapped)

    def _encode_batch_vec(self, batch):
        import pyarrow as pa
        import pyarrow.compute as pc

        n = batch.num_rows
        col = {name: batch.column(name) for name in batch.schema.names}
        if n == 0:
            empty = np.empty(0, dtype=np.int64)
            return b"", empty, (empty, empty, empty, empty.astype(bool))

        qname_vals, qname_lens, qname_null, _ = _string_parts(col["qname"])
        if qname_null.any():
            raise ValueError("BAM encode: qname must not be null")
        name_len = qname_lens + 1  # trailing NUL

        flag = _int_col(col["flag"])
        pos0 = _int_col(col["pos"]) - 1
        mapq = _int_col(col["mapq"])
        pnext0 = _int_col(col["pnext"]) - 1
        tlen = _int_col(col["tlen"])
        rid = self._ref_ids(col["rname"])
        next_rid = self._ref_ids(col["rnext"])

        # cigar: unique-only parse, per-record gather from the concat
        cig = col["cigar"]
        if isinstance(cig, pa.ChunkedArray):
            cig = cig.combine_chunks()
        d = pc.dictionary_encode(cig)
        uniq = d.dictionary.to_pylist()
        enc_list = [
            (b"", 0, 1) if (s is None or s == "" or s == "*")
            else self._cigar_encode(s)
            for s in uniq
        ]
        enc_concat = b"".join(e[0] for e in enc_list)
        uniq_nops = np.fromiter((e[1] for e in enc_list), np.int64,
                                len(enc_list)) if enc_list else np.empty(0, np.int64)
        uniq_reflen = np.fromiter((e[2] for e in enc_list), np.int64,
                                  len(enc_list)) if enc_list else np.empty(0, np.int64)
        if len(uniq_nops) and int(uniq_nops.max()) > 0xFFFF:
            # n_cigar_op is uint16 on the wire: the scalar fallback
            # writes the SAM 4.2.2 sentinel + CG:B,I tag for such reads
            raise VecUnsupported("cigar over 65535 ops")
        uniq_starts = _exclusive_cumsum(4 * uniq_nops)[:-1]
        # null cigar -> sentinel slot (0 ops, ref_len 1)
        uniq_nops = np.concatenate([uniq_nops, [0]])
        uniq_reflen = np.concatenate([uniq_reflen, [1]])
        uniq_starts = np.concatenate([uniq_starts, [0]])
        cidx = np.asarray(d.indices.fill_null(len(uniq))).astype(np.int64)
        n_cigar = uniq_nops[cidx]
        ref_len = uniq_reflen[cidx]
        cigar_src_start = uniq_starts[cidx]
        cig_bytes = np.frombuffer(enc_concat, dtype=np.uint8)

        seq_vals, l_seq, seq_null, _ = _string_parts(col["seq"])
        nb = (l_seq + 1) // 2
        qual_vals, qual_lens, qual_null, _ = _string_parts(col["qual"])
        # an empty qual is missing, as in bam.encode_record's `if qual`
        qual_null = qual_null | (qual_lens == 0)
        bad = (~qual_null) & (qual_lens != l_seq)
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            raise ValueError(
                f"BAM encode: qual length {int(qual_lens[i])} != seq length "
                f"{int(l_seq[i])} at batch row {i}"
            )
        if qual_vals.size and (int(qual_vals.min()) < 33 or int(qual_vals.max()) > 126):
            raise ValueError(
                "invalid qual string: chars must be in '!'..'~' (phred+33)"
            )

        # tags: dictionary-encode the (key, value) pair strings; only
        # unique pairs run _encode_tag_value
        tag_entry_src, tag_entry_len, tag_rec_off = self._tag_sections(
            col.get("tag_keys"), col.get("tag_vals"), n
        )
        tag_tot = _exclusive_cumsum(tag_entry_len)
        rec_tag_len = tag_tot[tag_rec_off[1:]] - tag_tot[tag_rec_off[:-1]]

        # --- blob layout -------------------------------------------------
        block_size = 32 + name_len + 4 * n_cigar + nb + l_seq + rec_tag_len
        rec_lens = 4 + block_size
        rec_start = _exclusive_cumsum(rec_lens)
        total = int(rec_start[-1])
        rec_start = rec_start[:-1]
        blob = np.zeros(total, dtype=np.uint8)

        # length prefix + fixed prefix as matrices
        blob[rec_start[:, None] + np.arange(4, dtype=np.int64)] = (
            block_size.astype("<i4").view(np.uint8).reshape(n, 4)
        )
        beg = np.maximum(pos0, 0)
        pr = np.zeros(n, dtype=PREFIX_DTYPE)
        pr["ref_id"] = rid
        pr["pos"] = pos0
        pr["l_read_name"] = name_len
        pr["mapq"] = mapq
        pr["bin"] = np.where(rid >= 0, reg2bin_vec(beg, beg + ref_len), 0)
        pr["n_cigar"] = n_cigar
        pr["flag"] = flag
        pr["l_seq"] = l_seq
        pr["next_ref"] = next_rid
        pr["next_pos"] = pnext0
        pr["tlen"] = tlen
        blob[(rec_start + 4)[:, None] + np.arange(32, dtype=np.int64)] = (
            pr.view(np.uint8).reshape(n, 32)
        )

        name_tgt = rec_start + 36
        cigar_tgt = name_tgt + name_len
        seq_tgt = cigar_tgt + 4 * n_cigar
        qual_tgt = seq_tgt + nb
        tag_tgt = qual_tgt + l_seq

        # qname chars (NUL terminator is the blob's zero-init)
        blob[_ramp(name_tgt, qname_lens)] = qname_vals
        # cigar ops gathered from the unique-encodings concat
        if cig_bytes.size:
            src = _ramp(cigar_src_start, 4 * n_cigar)
            blob[_ramp(cigar_tgt, 4 * n_cigar)] = cig_bytes[src]
        # seq nibbles in pairs: a 0 pad nibble after each odd-length
        # record's last base makes every record's nibbles an even run, so
        # byte k of the packed section is nibble pair (2k, 2k + 1)
        if seq_vals.size:
            nibs = _SEQ_LUT[seq_vals]
            odd = (l_seq & 1).astype(bool)
            if odd.any():
                nibs = np.insert(nibs, np.cumsum(l_seq)[odd], 0)
            blob[_ramp(seq_tgt, nb)] = (nibs[0::2] << 4) | nibs[1::2]
        # qual: phred text - 33; missing qual -> 0xFF fill
        qual_section = _ramp(qual_tgt, l_seq)
        if (qual_null & (l_seq > 0)).any():
            missing = np.repeat(qual_null, l_seq)
            flat = np.empty(len(qual_section), dtype=np.uint8)
            flat[missing] = 0xFF
            flat[~missing] = qual_vals - 33
            blob[qual_section] = flat
        else:
            blob[qual_section] = qual_vals - 33
        # tags
        if tag_entry_len.size and int(tag_entry_len.sum()):
            entry_rec = np.repeat(
                np.arange(n, dtype=np.int64), tag_rec_off[1:] - tag_rec_off[:-1]
            )
            entry_tgt = (
                tag_tgt[entry_rec]
                + tag_tot[:-1]
                - np.repeat(tag_tot[tag_rec_off[:-1]],
                            tag_rec_off[1:] - tag_rec_off[:-1])
            )
            blob[_ramp(entry_tgt, tag_entry_len)] = tag_entry_src

        mapped = (flag & 0x4) == 0
        end0 = beg + np.where(mapped, ref_len, 1)
        return blob.tobytes(), rec_lens, (rid, pos0, end0, mapped)

    def _tag_sections(self, keys_col, vals_col, n):
        """tag_keys/tag_vals list<string> columns -> (flat entry bytes in
        record order, per-entry byte lens, per-record entry offsets)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if keys_col is None or vals_col is None:
            return (np.empty(0, np.uint8), np.empty(0, np.int64),
                    np.zeros(n + 1, dtype=np.int64))
        if isinstance(keys_col, pa.ChunkedArray):
            keys_col = keys_col.combine_chunks()
        if isinstance(vals_col, pa.ChunkedArray):
            vals_col = vals_col.combine_chunks()
        # per-record entry counts (null map -> 0 entries, like `tags or {}`)
        counts = np.asarray(
            pc.fill_null(pc.list_value_length(keys_col), 0)
        ).astype(np.int64)
        rec_off = _exclusive_cumsum(counts)
        total_entries = int(rec_off[-1])
        if total_entries == 0:
            return (np.empty(0, np.uint8), np.empty(0, np.int64), rec_off)
        flat_keys = pc.list_flatten(keys_col)
        flat_vals = pc.list_flatten(vals_col)
        # unique (key, value) pairs only run the Python encoder
        pair = pc.binary_join_element_wise(flat_keys, flat_vals, "\x1f")
        d = pc.dictionary_encode(pair)
        uniq_bytes = []
        for s in d.dictionary.to_pylist():
            k, _, v = s.partition("\x1f")
            hit = self._tag_cache.get(s)
            if hit is None:
                hit = _encode_tag_value(k, v)
                if len(self._tag_cache) < 65536:
                    self._tag_cache[s] = hit
            uniq_bytes.append(hit)
        uniq_len = np.fromiter((len(b) for b in uniq_bytes), np.int64,
                               len(uniq_bytes))
        uniq_start = _exclusive_cumsum(uniq_len)[:-1]
        concat = np.frombuffer(b"".join(uniq_bytes), dtype=np.uint8)
        idx = np.asarray(d.indices).astype(np.int64)
        entry_len = uniq_len[idx]
        src = _ramp(uniq_start[idx], entry_len)
        return concat[src], entry_len, rec_off
