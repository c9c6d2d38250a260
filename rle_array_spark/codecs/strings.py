"""String codec kernels: DICT / RLE-over-codes / RAW for variable-width
utf8 values, with in-band null support.

Closes the last dtype-surface gap vs the reference, which encodes object/str
arrays with None (/root/reference/rle_array/dtype.py:11-27; object round-trip
tests /root/reference/tests/test_algorithms.py:84-133). Strings have no
fixed-width bit view, so the dictionary is the base representation: distinct
values live once in an in-payload table (Arrow ``dictionary_encode``, C-side)
and the body is either bit-packed codes (sdict), runs of codes (srle — the
natural fit for sorted/grouped string columns), or plain offsets+bytes
(sraw — the fallback when values are mostly distinct, where a table would
just duplicate the data).

Null handling mirrors codecs/typed.py: the validity mask travels in-band as
an RLE over validity bits, and null slots are forward-filled with the
previous code so they extend runs instead of breaking them (the reference's
null-run semantics, _algorithms.py:155-171). Empty string and null stay
distinct.

Layout (little-endian)::

    u8  flags               (bit0: has null section)
    [null section: u32 n_mask_runs, u8 first_valid, u32 run_ends × n]
    u32 k                   (dictionary cardinality; absent for sraw)
    u32 table_offsets × (k+1), utf8 table bytes
    body:
      sdict: u8 code_width, bit-packed codes (n)
      srle : u32 n_runs, u32 run_ends × n_runs, u8 code_width,
             bit-packed run codes
      sraw : u32 value_offsets × (n+1), utf8 value bytes (no table)
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from rle_array_spark.codecs import bitpack
from rle_array_spark.codecs.core import _read_struct
from rle_array_spark.codecs.typed import _encode_nulls, _mask_runs, _read_nulls

STRING_CODECS = ("srle", "sdict", "sraw", "sfsst")


def _pack_table(table: list[bytes]) -> bytes:
    offs = np.zeros(len(table) + 1, dtype=np.uint32)
    np.cumsum([len(b) for b in table], out=offs[1:])
    return (
        struct.pack("<I", len(table)) + offs.astype("<u4").tobytes() + b"".join(table)
    )


def _unpack_table(buf: memoryview, off: int) -> tuple[np.ndarray, int]:
    (k,), off = _read_struct("<I", buf, off)
    offs = np.frombuffer(buf, dtype="<u4", count=k + 1, offset=off).astype(np.int64)
    off += 4 * (k + 1)
    data = bytes(buf[off : off + int(offs[-1])])
    off += int(offs[-1])
    table = np.empty(k, dtype=object)
    for i in range(k):
        table[i] = data[offs[i] : offs[i + 1]].decode("utf-8")
    return table, off


def _dict_parts(arr: pa.Array) -> tuple[list[bytes], np.ndarray, np.ndarray | None]:
    """(utf8 table bytes, forward-filled int64 codes, valid mask | None)."""
    n = len(arr)
    valid = None
    if arr.null_count:
        valid = ~np.asarray(arr.is_null())
        if valid.all():
            valid = None
    denc = pc.dictionary_encode(arr)
    table = [s.encode("utf-8") for s in denc.dictionary.to_pylist()]
    idx = denc.indices
    if idx.null_count:
        idx = idx.fill_null(0)
    codes = idx.to_numpy(zero_copy_only=False).astype(np.int64)
    if valid is not None:
        pos = np.where(valid, np.arange(n, dtype=np.int64), -1)
        np.maximum.accumulate(pos, out=pos)
        codes = codes[np.maximum(pos, 0)]
        codes[pos < 0] = 0
    return table, codes, valid


def encode_sdict(arr: pa.Array, parts=None) -> bytes:
    table, codes, valid = parts if parts is not None else _dict_parts(arr)
    width = bitpack.bit_width(len(table) - 1) if len(table) > 1 else 0
    packed = bitpack.pack_bits(codes, width) if width else b""
    return (
        _encode_nulls(valid)
        + _pack_table(table)
        + struct.pack("<B", width)
        + packed
    )


def encode_srle(arr: pa.Array, parts=None) -> bytes:
    table, codes, valid = parts if parts is not None else _dict_parts(arr)
    if codes.size:
        change = np.flatnonzero(codes[1:] != codes[:-1]) + 1
        starts = np.concatenate(([0], change))
        ends = np.append(change, codes.size).astype(np.uint32)
        run_codes = codes[starts]
    else:
        ends = np.zeros(0, dtype=np.uint32)
        run_codes = codes
    width = bitpack.bit_width(len(table) - 1) if len(table) > 1 else 0
    packed = bitpack.pack_bits(run_codes, width) if width else b""
    return (
        _encode_nulls(valid)
        + _pack_table(table)
        + struct.pack("<I", ends.size)
        + ends.astype("<u4").tobytes()
        + struct.pack("<B", width)
        + packed
    )


def encode_sfsst(arr: pa.Array) -> bytes:
    """FSST-path for strings: the values' concatenated utf8 byte stream is
    compressed with the NGRAM Re-Pair grammar (codecs/ngram.py — the token
    analog of FSST's substring symbol table), with per-value byte offsets
    alongside. Wins when values share substrings but cardinality is too
    high for the dictionary (URLs, paths, prefixed ids). The offsets and
    byte stream come straight off the Arrow buffers (encode_sraw's
    layout) — no per-value Python."""
    from rle_array_spark.codecs.ngram import NgramCodec

    if pa.types.is_large_string(arr.type):
        arr = arr.cast(pa.string())
    n = len(arr)
    valid = None
    if arr.null_count:
        valid = ~np.asarray(arr.is_null())
        if valid.all():
            valid = None
        arr = arr.fill_null("")
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if n == 0 or arr.buffers()[1] is None:
        offs = np.zeros(n + 1, dtype=np.uint32)
        stream = np.zeros(0, dtype=np.int32)
    else:
        abs_offs = np.frombuffer(
            arr.buffers()[1], dtype="<i4", count=n + 1, offset=4 * arr.offset
        ).astype(np.int64)
        data = memoryview(arr.buffers()[2])[abs_offs[0] : abs_offs[-1]]
        offs = (abs_offs - abs_offs[0]).astype(np.uint32)
        stream = np.frombuffer(data, dtype=np.uint8).astype(np.int32)
    body = NgramCodec().encode(stream)
    return (
        _encode_nulls(valid)
        + offs.astype("<u4").tobytes()
        + body
    )


def encode_sraw(arr: pa.Array) -> bytes:
    """Buffer-level raw layout: the Arrow string offsets/data buffers are
    re-based and written directly — no per-value Python."""
    if pa.types.is_large_string(arr.type):
        # large_utf8 carries int64 offsets — cast before touching buffers so
        # the <i4 view below can never silently misparse them.
        arr = arr.cast(pa.string())
    elif not pa.types.is_string(arr.type):
        raise TypeError(f"encode_sraw expects utf8, got {arr.type}")
    n = len(arr)
    valid = None
    if arr.null_count:
        valid = ~np.asarray(arr.is_null())
        if valid.all():
            valid = None
        arr = arr.fill_null("")
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if n == 0 or arr.buffers()[1] is None:
        return _encode_nulls(valid) + np.zeros(n + 1, dtype="<u4").tobytes()
    abs_offs = np.frombuffer(
        arr.buffers()[1], dtype="<i4", count=n + 1, offset=4 * arr.offset
    ).astype(np.int64)
    data = memoryview(arr.buffers()[2])[abs_offs[0] : abs_offs[-1]]
    offs = (abs_offs - abs_offs[0]).astype("<u4")
    return _encode_nulls(valid) + offs.tobytes() + bytes(data)


def decode_strings(name: str, payload, n: int) -> tuple[np.ndarray, np.ndarray | None]:
    """→ (object ndarray of python str, valid bool mask | None). Null slots
    carry their forward-filled value; callers mask them out via ``valid``."""
    if name in ("srle", "sdict"):
        table, codes, valid = _codes_form(name, payload, n)
        if codes.size != n:
            raise ValueError(f"{name} decode length mismatch: {codes.size} != {n}")
        out = table[codes] if table.size else np.full(n, "", dtype=object)
        return out, valid
    buf = memoryview(payload)
    valid, off = _read_nulls(buf, 0)
    if name == "sfsst":
        from rle_array_spark.codecs.ngram import NgramCodec

        offs = np.frombuffer(buf, dtype="<u4", count=n + 1, offset=off).astype(np.int64)
        off += 4 * (n + 1)
        stream = NgramCodec().decode(buf[off:], int(offs[-1]))
        data = stream.astype(np.uint8).tobytes()
        out = np.empty(n, dtype=object)
        for i in range(n):
            out[i] = data[offs[i] : offs[i + 1]].decode("utf-8")
        return out, valid
    if name == "sraw":
        offs = np.frombuffer(buf, dtype="<u4", count=n + 1, offset=off).astype(np.int64)
        off += 4 * (n + 1)
        data = bytes(buf[off : off + int(offs[-1])])
        out = np.empty(n, dtype=object)
        for i in range(n):
            out[i] = data[offs[i] : offs[i + 1]].decode("utf-8")
        return out, valid
    raise ValueError(f"unknown string codec {name!r}")


def decode_strings_arrow(name: str, payload, n: int) -> pa.Array:
    """→ ``pa.StringArray`` with nulls applied — the Arrow-native sibling
    of :func:`decode_strings`. sraw/sfsst build the array straight from
    the stored (offsets, utf-8 data) buffers — zero per-value Python
    (5.5× on the sraw high-cardinality-text regime, 1.3× on sfsst where
    the ngram stream decode dominates); srle/sdict keep the object-table
    gather (Arrow take measured slower there — see inline note). Values
    identical to decode_strings + its mask (differential-tested)."""
    buf = memoryview(payload)
    if n == 0:
        return pa.array([], type=pa.string())
    if name in ("srle", "sdict"):
        # dictionary codecs keep the object gather: per-block Arrow-take
        # (table→pa.array conversion + take + bitmap rebuild) measured
        # 0.75× AGAINST it — the O(cardinality) table is tiny and the
        # object→Arrow conversion cost is identical either way
        vals, valid2 = decode_strings(name, payload, n)
        return pa.array(
            vals, type=pa.string(), mask=None if valid2 is None else ~valid2
        )
    valid, off = _read_nulls(buf, 0)
    null_buf = None
    null_count = 0
    if valid is not None:
        null_count = int(n - np.count_nonzero(valid))
        null_buf = pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())
    if name == "sfsst":
        from rle_array_spark.codecs.ngram import NgramCodec

        offs = np.frombuffer(buf, dtype="<u4", count=n + 1, offset=off)
        off += 4 * (n + 1)
        stream = NgramCodec().decode(buf[off:], int(offs[-1]))
        data_buf = pa.py_buffer(stream.astype(np.uint8).tobytes())
    elif name == "sraw":
        offs = np.frombuffer(buf, dtype="<u4", count=n + 1, offset=off)
        off += 4 * (n + 1)
        data_buf = pa.py_buffer(bytes(buf[off : off + int(offs[-1])]))
    else:
        raise ValueError(f"unknown string codec {name!r}")
    # stored offsets are <u4; Arrow string offsets are int32. Block sizes
    # are bounded far below 2^31 elsewhere, but raise rather than wrap if a
    # pathological block ever reaches it (a negative Arrow offset would
    # silently corrupt every decoded string after it) — same
    # raise-instead-of-wrap policy as transform._checked_int32.
    if n and int(offs[-1]) > 2**31 - 1:
        raise ValueError(
            f"string block value bytes {int(offs[-1])} exceed int32 Arrow "
            "offset range; re-encode with a smaller chunk size"
        )
    offs_buf = pa.py_buffer(offs.astype(np.int32).tobytes())
    return pa.Array.from_buffers(
        pa.string(), n, [null_buf, offs_buf, data_buf], null_count=null_count
    )


def encode_string_block(arr: pa.Array, codec: str = "auto") -> tuple[str, bytes]:
    """Encode one string sequence; ``auto`` runs the cost-based choice."""
    return encode_string_block_stats(arr, codec)[:2]


def encode_string_block_stats(
    arr: pa.Array,
    codec: str = "auto",
    parts=None,
    total_bytes: int | None = None,
) -> tuple[str, bytes, int, int, int]:
    """(name, payload, n_runs, cardinality, null_count) with ONE dictionary
    pass shared by the codec choice, the winning encode, and the metadata.

    ``parts`` may carry precomputed ``(table_bytes, codes, valid)`` — the
    batch-level kernel dictionary-encodes a whole Arrow batch once and
    localizes per row, passing the result here; ``total_bytes`` then skips
    the per-row byte-length reduction too.

    ``auto`` mirrors chooser.py: run count and cardinality rank the three
    layouts analytically, the winner is encoded, and sraw wins ties so a
    block is never larger than raw + header. n_runs counts runs of the
    forward-filled codes — nulls extend the preceding run, the same
    null-run semantics the payload itself uses."""
    n = len(arr)
    if parts is None:
        parts = _dict_parts(arr)
    table, codes, valid = parts
    k = len(table)
    null_count = 0 if valid is None else int((~valid).sum())
    r = (1 + int(np.count_nonzero(codes[1:] != codes[:-1]))) if n else 0
    if codec == "srle":
        return "srle", encode_srle(arr, parts), r, k, null_count
    if codec == "sdict":
        return "sdict", encode_sdict(arr, parts), r, k, null_count
    if codec == "sraw":
        return "sraw", encode_sraw(arr), r, k, null_count
    if codec == "sfsst":
        return "sfsst", encode_sfsst(arr), r, k, null_count
    if codec != "auto":
        raise ValueError(f"unknown string codec {codec!r}")
    if n == 0:
        return "sraw", encode_sraw(arr), 0, 0, 0
    table_bytes = 4 + 4 * (k + 1) + sum(len(b) for b in table)
    if total_bytes is None:
        total_bytes = int(
            pc.sum(pc.binary_length(arr.cast(pa.binary()).fill_null(b""))).as_py() or 0
        )
    # null section beyond the flag byte: u32 n_runs + u8 first + u32 ends
    null_bytes = 0 if valid is None else 5 + 4 * _mask_runs(valid)[1].size
    header = 1 + null_bytes
    width = bitpack.bit_width(k - 1) if k > 1 else 0
    est_dict = header + table_bytes + 1 + bitpack.packed_nbytes(n, width)
    est_rle = header + table_bytes + 4 + 4 * r + 1 + bitpack.packed_nbytes(r, width)
    est_raw = header + 4 * (n + 1) + total_bytes
    # est_raw is EXACT for the buffer-level sraw layout (header + offsets +
    # utf8 bytes), so the raw guard needs no trial encode.
    best = min((est_rle, "srle"), (est_dict, "sdict"), (est_raw, "sraw"))[1]
    if best == "sraw":
        # raw is the analytic winner: neither runs nor the dictionary pay.
        # The remaining candidate is substring sharing — trial the FSST
        # grammar when there are enough bytes for a table to amortize.
        if total_bytes >= 256:
            fsst = encode_sfsst(arr)
            if len(fsst) < est_raw:
                return "sfsst", fsst, r, k, null_count
        return "sraw", encode_sraw(arr), r, k, null_count
    payload = {"srle": encode_srle, "sdict": encode_sdict}[best](arr, parts)
    if est_raw <= len(payload):
        return "sraw", encode_sraw(arr), r, k, null_count
    return best, payload, r, k, null_count


def _codes_form(name: str, payload, n: int):
    """→ (table object-ndarray of str, codes int64 (length n, nulls
    forward-filled), valid | None) for the dictionary-backed codecs."""
    buf = memoryview(payload)
    valid, off = _read_nulls(buf, 0)
    table, off = _unpack_table(buf, off)
    if name == "sdict":
        (width,), off = _read_struct("<B", buf, off)
        codes = (
            bitpack.unpack_bits(buf[off:], n, width).astype(np.int64)
            if width
            else np.zeros(n, dtype=np.int64)
        )
        return table, codes, valid
    if name == "srle":
        (n_runs,), off = _read_struct("<I", buf, off)
        ends = np.frombuffer(buf, dtype="<u4", count=n_runs, offset=off).astype(np.int64)
        off += 4 * n_runs
        (width,), off = _read_struct("<B", buf, off)
        run_codes = (
            bitpack.unpack_bits(buf[off:], n_runs, width).astype(np.int64)
            if width
            else np.zeros(n_runs, dtype=np.int64)
        )
        codes = np.repeat(run_codes, np.diff(np.concatenate(([0], ends))))
        return table, codes, valid
    raise ValueError(f"{name!r} carries no code stream")


def _emit_codes(table: np.ndarray, codes: np.ndarray, valid) -> tuple[str, bytes]:
    """Re-encode a (table, codes, valid) triple as srle or sdict, whichever
    is smaller (the two layouts share the table; values never touched)."""
    tbytes = [t.encode("utf-8") for t in table]
    parts = (tbytes, codes, valid)
    arr = None  # parts-only paths below never need the values
    rle_p = encode_srle(arr, parts)
    dict_p = encode_sdict(arr, parts)
    return ("srle", rle_p) if len(rle_p) <= len(dict_p) else ("sdict", dict_p)


def string_payload_stats(name: str, payload, n: int):
    """(n_runs, null_count, card, val_min, val_max) of one string block
    straight from the PAYLOAD — code-domain for srle/sdict (table + code
    stream, value bytes untouched), decode for sraw/sfsst. card counts
    values actually REFERENCED (valid slots only); min/max likewise."""
    buf = memoryview(payload)
    valid, off = _read_nulls(buf, 0)
    null_count = 0 if valid is None else int(n - valid.sum())
    if n == 0:
        return 0, 0, 0, None, None
    if name in ("srle", "sdict"):
        table, codes, _ = _codes_form(name, payload, n)
        n_runs = 1 + int(np.count_nonzero(codes[1:] != codes[:-1]))
        ref = codes if valid is None else codes[valid]
        if ref.size == 0:
            return n_runs, null_count, 0, None, None
        uniq = np.unique(ref)
        vals = table[uniq]
        return n_runs, null_count, int(uniq.size), str(min(vals)), str(max(vals))
    vals, _ = decode_strings(name, buf, n)
    if valid is None:
        n_runs = 1 + int(np.count_nonzero(vals[1:] != vals[:-1]))
        body = vals
    else:
        # null slots must extend runs (the encode-side n_runs contract):
        # re-derive forward-filled codes exactly like encode_string_block_stats
        arr = pa.array(list(np.where(valid, vals, None)), type=pa.string())
        _, codes, _ = _dict_parts(arr)
        n_runs = 1 + int(np.count_nonzero(codes[1:] != codes[:-1])) if n else 0
        body = vals[valid]
    if body.size == 0:
        return n_runs, null_count, 0, None, None
    uniq_vals = np.unique(body.astype(object))
    return n_runs, null_count, int(uniq_vals.size), str(uniq_vals[0]), str(uniq_vals[-1])


def string_value_bytes(name: str, payload, n: int) -> int:
    """Sum of utf-8 byte lengths of the VALID slots of one string block —
    the value term of the encode path's ``raw_bytes = value_bytes + 4*n``
    accounting. Code-domain for srle/sdict (table entry lengths weighted by
    code reference counts); decode for sraw/sfsst."""
    if n == 0:
        return 0
    buf = memoryview(payload)
    valid, _ = _read_nulls(buf, 0)
    if name in ("srle", "sdict"):
        table, codes, _ = _codes_form(name, payload, n)
        ref = codes if valid is None else codes[valid]
        if ref.size == 0:
            return 0
        tlens = np.fromiter(
            (len(t.encode("utf-8")) for t in table), dtype=np.int64, count=table.size
        )
        return int(tlens[ref].sum())
    vals, _ = decode_strings(name, buf, n)
    keep = vals if valid is None else vals[valid]
    return int(sum(len(v.encode("utf-8")) for v in keep))


def dropna_strings(name: str, payload, n: int) -> tuple[str, bytes, int]:
    """Compressed-domain dropna for string blocks (the object-dtype analog
    of codecs/typed.dropna_typed; reference _algorithms.py:174-199): for
    the dictionary-backed codecs the null slots are dropped from the CODE
    stream and unreferenced table entries pruned — string bytes never
    gathered. sraw/sfsst decode and re-choose."""
    buf = memoryview(payload)
    valid, off = _read_nulls(buf, 0)
    if valid is None:
        return name, bytes(payload), n
    if name in ("srle", "sdict"):
        table, codes, _ = _codes_form(name, payload, n)
        kept = codes[valid]
        if kept.size == 0:
            nm, pl = encode_string_block(pa.array([], type=pa.string()), "sraw")
            return nm, pl, 0
        uniq, inv = np.unique(kept, return_inverse=True)
        nm, pl = _emit_codes(table[uniq], inv, None)
        return nm, pl, int(kept.size)
    vals, _ = decode_strings(name, buf, n)
    kept_vals = vals[valid]
    nm, pl = encode_string_block(pa.array(list(kept_vals), type=pa.string()), "auto")
    return nm, pl, int(kept_vals.size)


def fillna_strings(
    name: str, payload, n: int, value: str | None = None, method: str | None = None
) -> tuple[str, bytes]:
    """Compressed-domain fillna for string blocks (reference
    array.py:902-911 on object dtype):

    * ffill — HEADER-ONLY rewrite for every codec: the body already stores
      null slots forward-filled (codes or values), so only the null section
      changes; a leading null run (nothing to fill from) stays null.
    * value — dict-backed codecs rewrite null CODES (appending the fill
      value to the table if absent); sraw/sfsst decode and re-choose.
    * bfill — decode fallback (the body's fill direction is forward)."""
    if (value is None) == (method is None):
        raise ValueError("fillna: exactly one of value / method required")
    if method not in (None, "ffill", "bfill"):
        raise ValueError(f"fillna: unknown method {method!r}")
    buf = memoryview(payload)
    valid, off = _read_nulls(buf, 0)
    if valid is None:
        return name, bytes(payload)
    body = bytes(buf[off:])
    if method == "ffill":
        if not valid.any():
            return name, bytes(payload)
        if name not in ("srle", "sdict"):
            # sraw/sfsst bodies store null slots as "" (not forward-filled)
            # — rewrite the values, keeping only a leading null run
            vals, _ = decode_strings(name, buf, n)
            pos = np.where(valid, np.arange(n, dtype=np.int64), -1)
            np.maximum.accumulate(pos, out=pos)
            out = [vals[p] if p >= 0 else None for p in pos]
            return encode_string_block(pa.array(out, type=pa.string()), "auto")
        if not valid[0]:
            lead = int(np.argmax(valid))
            new_valid = np.zeros(n, dtype=bool)
            new_valid[lead:] = True
            return name, _encode_nulls(new_valid) + body
        return name, _encode_nulls(None) + body
    if method == "bfill":
        vals, _ = decode_strings(name, buf, n)
        out = vals.copy()
        idx = np.where(valid, np.arange(n, dtype=np.int64), n)
        np.minimum.accumulate(idx[::-1], out=idx[::-1])
        fillable = idx < n
        out[fillable] = vals[idx[fillable]]
        pyvals = [
            out[i] if (valid[i] or fillable[i]) else None for i in range(n)
        ]
        return encode_string_block(pa.array(pyvals, type=pa.string()), "auto")
    if name in ("srle", "sdict"):
        table, codes, _ = _codes_form(name, payload, n)
        hit = np.flatnonzero(table == value)
        if hit.size:
            fill_code = int(hit[0])
        else:
            fill_code = table.size
            table = np.append(table, np.array([value], dtype=object))
        codes = codes.copy()
        codes[~valid] = fill_code
        # Re-canonicalize to first-occurrence order (and prune unreferenced
        # entries) so the payload is byte-identical to encoding the filled
        # values from scratch — the cross-path byte-determinism contract
        # fingerprint/dedup comparisons rely on.
        uniq, first_pos, inv = np.unique(codes, return_index=True, return_inverse=True)
        order = np.argsort(first_pos, kind="stable")
        rank = np.empty(order.size, dtype=np.int64)
        rank[order] = np.arange(order.size)
        return _emit_codes(table[uniq[order]], rank[inv], None)
    vals, _ = decode_strings(name, buf, n)
    out = vals.copy()
    out[~valid] = value
    return encode_string_block(pa.array(list(out), type=pa.string()), "auto")


def transform_strings(name: str, payload, n: int, fn) -> tuple[str, bytes]:
    """Value-map a ``str -> str`` function over one string block — in the
    TABLE domain for the dictionary-backed codecs (srle/sdict): fn runs
    once per DISTINCT value, the code stream and validity are reused, and
    colliding outputs (e.g. lower('A') == lower('a')) are deduped with a
    vectorized code remap. O(|table|) python calls + O(n) numpy, never
    O(n) python. sraw/sfsst fall back to decode → map → re-encode (the
    same fallback contract as mixed-codec zips). The string sibling of
    typed_zip.transform_typed (reference object-dtype ops decode-fallback,
    array.py:698-746 __array_ufunc__)."""
    if n == 0:
        return name, bytes(payload) if not isinstance(payload, bytes) else payload
    if name in ("srle", "sdict"):
        table, codes, valid = _codes_form(name, payload, n)
        if table.size == 0:
            return name, bytes(memoryview(payload))
        mapped = np.array([fn(t) for t in table.tolist()], dtype=object)
        uniq, inv = np.unique(mapped.astype(str), return_inverse=True)
        return _emit_codes(uniq.astype(object), inv[codes], valid)
    vals, valid = decode_strings(name, payload, n)
    out = [
        None if (valid is not None and not valid[i]) else fn(vals[i])
        for i in range(n)
    ]
    return encode_string_block(pa.array(out, type=pa.string()), "auto")


def take_strings(
    name: str,
    payload,
    n: int,
    idx: np.ndarray,
    allow_fill: bool = False,
    fill_value: str | None = None,
) -> tuple[str, bytes]:
    """values[idx] as a string block — the reference's full ``take``
    contract on object dtype (/root/reference/rle_array/_algorithms.py:
    422-481): arbitrary index order, negative-index wrapping, and
    ``allow_fill`` (-1 → ``fill_value``; None fills null). For the
    dictionary-backed codecs the gather happens in the CODE domain —
    string bytes are never touched, only the (shared) table is copied;
    code gathers are order-agnostic, so unsorted takes stay in the code
    domain too. sraw/sfsst decode, gather, and re-choose."""
    from rle_array_spark.codecs.reduce import normalize_take_indices

    idx, fill_mask = normalize_take_indices(idx, n, allow_fill)
    if idx.size == 0:
        return encode_string_block(pa.array([], type=pa.string()), "sraw")
    has_fill = bool(fill_mask.any())
    if n == 0:  # only reachable as an all-fill take
        return encode_string_block(
            pa.array([fill_value] * idx.size, type=pa.string()), "auto"
        )
    gather_idx = np.where(fill_mask, 0, idx) if has_fill else idx
    if name in ("srle", "sdict") and not (has_fill and fill_value is not None):
        table, codes, valid = _codes_form(name, payload, n)
        new_valid = (
            valid[gather_idx].copy()
            if valid is not None
            else np.ones(idx.size, dtype=bool)
        )
        new_valid[fill_mask] = False  # fill_value None → null slots
        if new_valid.all():
            new_valid = None
        return _emit_codes(table, codes[gather_idx], new_valid)
    # sraw/sfsst (and filled dict takes): Arrow-native — nulls are already
    # applied by decode_strings_arrow, the gather is pc.take, fills are
    # one if_else; no per-value Python
    import pyarrow.compute as pc

    arr = decode_strings_arrow(name, payload, n)
    out = arr.take(pa.array(gather_idx, type=pa.int64()))
    if has_fill:
        out = pc.if_else(
            pa.array(fill_mask), pa.scalar(fill_value, type=pa.string()), out
        )
    return encode_string_block(out, "auto")


def reverse_strings(name: str, payload, n: int) -> tuple[str, bytes]:
    """Reversed string block; code-domain for srle/sdict."""
    if name in ("srle", "sdict"):
        table, codes, valid = _codes_form(name, payload, n)
        new_valid = valid[::-1].copy() if valid is not None else None
        return _emit_codes(table, codes[::-1].copy(), new_valid)
    arr = decode_strings_arrow(name, payload, n)
    out = arr.take(pa.array(np.arange(n - 1, -1, -1, dtype=np.int64)))
    return encode_string_block(out, "auto")


def zip_strings_compare(
    name_a: str, payload_a, name_b: str, payload_b, n: int, op: str = "eq"
) -> tuple[str, bytes]:
    """Elementwise string comparison of two equal-length blocks → a TYPED
    bool block (codecs/typed.py) with null propagation (result valid iff
    both inputs valid) — the reference's eq/ne on object dtype
    (/root/reference/tests/test_pandas.py compare fixtures).

    Fast path when BOTH sides are dictionary-backed: table_a is remapped
    into table_b's code space once (O(k) string work), then the comparison
    is a pure integer code compare — the value bytes are never touched.
    Other codec pairs decode (PerformanceWarning)."""
    if op not in ("eq", "ne"):
        raise ValueError(f"string zip supports eq/ne, got {op!r}")
    from rle_array_spark.codecs.typed import encode_typed

    if name_a in ("srle", "sdict") and name_b in ("srle", "sdict"):
        table_a, codes_a, valid_a = _codes_form(name_a, payload_a, n)
        table_b, codes_b, valid_b = _codes_form(name_b, payload_b, n)
        pos_b = {v: i for i, v in enumerate(table_b)}
        mapped = np.array(
            [pos_b.get(v, -1) for v in table_a], dtype=np.int64
        )  # -1: value absent from b → never equal
        if table_a.size:
            eq = mapped[codes_a] == codes_b
        else:
            eq = np.zeros(n, dtype=bool)
    else:
        import warnings

        from rle_array_spark.codecs.core import PerformanceWarning

        warnings.warn(
            f"string zip of ({name_a!r}, {name_b!r}) decodes both value "
            "streams (the code-compare fast path needs dictionary-backed "
            "payloads on both sides)",
            PerformanceWarning,
            stacklevel=2,
        )
        va, valid_a = decode_strings(name_a, payload_a, n)
        vb, valid_b = decode_strings(name_b, payload_b, n)
        eq = va == vb if n else np.zeros(0, dtype=bool)
    out = eq if op == "eq" else ~eq
    if valid_a is None:
        valid = valid_b
    elif valid_b is None:
        valid = valid_a
    else:
        valid = valid_a & valid_b
    return encode_typed(np.ascontiguousarray(out), valid, "auto")


def mask_strings(
    name_v: str,
    payload_v,
    name_m: str,
    payload_m,
    n: int,
) -> tuple[str, bytes, int]:
    """Boolean-mask gather ``values[mask]`` over a string block; the mask
    is a typed BOOL block (the output of zip_strings_compare / the typed
    comparison zips), so ``s[s == "x"]`` composes in the encoded domain —
    the reference's boolean ``__getitem__`` on object dtype
    (/root/reference/rle_array/array.py:655-668). Returns
    (codec, payload, new_n).

    Null-mask slots DROP the row (SQL WHERE semantics — same convention as
    codecs/typed_zip.mask_typed; see its docstring). The value gather runs
    in the CODE domain for dictionary-backed codecs via take_strings —
    string bytes are never touched; mask expansion is slot-level bool work
    (1 B/slot), matching the family's slot-level validity layout.
    """
    from rle_array_spark.codecs.typed import _decode_header as _typed_header
    from rle_array_spark.codecs.typed import decode_typed

    buf_m = memoryview(payload_m)
    dt_m, valid_m, _ = _typed_header(buf_m, n)
    if dt_m != np.dtype(np.bool_):
        raise ValueError(f"mask block must be bool-typed, got {dt_m}")
    if n == 0:
        codec, payload = encode_string_block(pa.array([], type=pa.string()), "sraw")
        return codec, payload, 0
    mvals, _ = decode_typed(name_m, buf_m, n)
    slots = mvals.view(np.bool_).copy() if valid_m is None else (
        mvals.view(np.bool_) & valid_m
    )
    idx = np.flatnonzero(slots)
    codec, payload = take_strings(name_v, payload_v, n, idx)
    return codec, payload, int(idx.size)


def filter_strings(
    name: str, payload, n: int, op: str, value: str, pre_fn=None
) -> tuple[str, bytes, int]:
    """Fused scalar eq/ne filter ``values[values op value]`` over one
    string block — ``s[s == "x"]`` in the CODE domain for the
    dictionary-backed codecs (the comparison touches only the table,
    O(cardinality) string compares; kept codes gather and re-emit without
    ever touching token bytes). sraw/sfsst decode, filter, re-choose.
    Null slots DROP (SQL WHERE). Returns (codec, payload, new_n).

    ``pre_fn`` (str → str) maps the PREDICATE input only —
    ``s[pre_fn(s) op value]`` keeps the ORIGINAL strings; like
    transform_strings, it runs once per DISTINCT table value on the
    dictionary-backed codecs (and once per distinct decoded value on
    sraw/sfsst), so ``s[upper(s) == 'X']`` costs O(cardinality) calls."""
    if op not in ("eq", "ne"):
        raise ValueError(f"string filter supports eq/ne, got {op!r}")
    if n == 0:
        c, p = encode_string_block(pa.array([], type=pa.string()), "sraw")
        return c, p, 0
    buf = memoryview(payload)
    valid, _ = _read_nulls(buf, 0)
    if name in ("srle", "sdict"):
        table, codes, _ = _codes_form(name, payload, n)
        cmp_tab = (
            table
            if pre_fn is None
            else np.array([pre_fn(x) for x in table], dtype=object)
        )
        keep_code = cmp_tab == value
        if op == "ne":
            keep_code = ~keep_code
        # an all-null block has an empty table: no slot can match
        keep_slots = keep_code[codes] if table.size else np.zeros(n, dtype=bool)
        if valid is not None:
            keep_slots = keep_slots & valid
        kept = codes[keep_slots]
        if kept.size == 0:
            c, p = encode_string_block(pa.array([], type=pa.string()), "sraw")
            return c, p, 0
        # prune + remap to first-kept-occurrence order so the payload is
        # byte-identical to a fresh encode of the kept values
        uniq, first_pos, inv = np.unique(kept, return_index=True, return_inverse=True)
        order = np.argsort(first_pos, kind="stable")
        rank = np.empty(order.size, dtype=np.int64)
        rank[order] = np.arange(order.size)
        c, p = _emit_codes(table[uniq[order]], rank[inv], None)
        return c, p, int(kept.size)
    # sraw/sfsst: Arrow-native — decode to a StringArray off the stored
    # buffers (nulls applied), compare/filter in Arrow compute, re-encode
    # the kept array buffer-level. Per-value Python only for the pre map,
    # and then only once per DISTINCT value (pc.unique + index_in).
    import pyarrow.compute as pc

    arr = decode_strings_arrow(name, payload, n)
    if pre_fn is None:
        eqm = pc.equal(arr, value)  # null → null, like the SQL comparison
    else:
        uniq = pc.unique(arr.drop_null())
        match = pa.array(
            [pre_fn(u) == value for u in uniq.to_pylist()], type=pa.bool_()
        )
        idx = pc.index_in(arr, uniq)  # null stays null
        eqm = pc.take(match, idx)
    keep = eqm if op == "eq" else pc.invert(eqm)
    kept_arr = arr.filter(pc.fill_null(keep, False))  # null slots DROP
    if len(kept_arr) == 0:
        c, p = encode_string_block(pa.array([], type=pa.string()), "sraw")
        return c, p, 0
    c, p = encode_string_block(kept_arr, "auto")
    return c, p, int(len(kept_arr))


def value_counts_strings(
    name: str, payload, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block value histogram for a string block, computed from the
    payload: dictionary-backed codecs bincount the CODE stream (string
    bytes touched only once per distinct value via the table);
    sraw/sfsst decode and unique. Null slots are EXCLUDED
    (value_counts(dropna=True)). Returns (values object ndarray,
    counts int64)."""
    if n == 0:
        return np.zeros(0, dtype=object), np.zeros(0, np.int64)
    buf = memoryview(payload)
    valid, _ = _read_nulls(buf, 0)
    if name in ("srle", "sdict"):
        table, codes, _ = _codes_form(name, payload, n)
        live = codes if valid is None else codes[valid]
        if live.size == 0:
            return np.zeros(0, dtype=object), np.zeros(0, np.int64)
        counts = np.bincount(live, minlength=table.size).astype(np.int64)
        used = counts > 0
        return table[used], counts[used]
    vals, valid2 = decode_strings(name, payload, n)
    live = vals if valid2 is None else vals[valid2]
    if live.size == 0:
        return np.zeros(0, dtype=object), np.zeros(0, np.int64)
    uniq, counts = np.unique(live.astype(str), return_counts=True)
    return uniq.astype(object), counts.astype(np.int64)
