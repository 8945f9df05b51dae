"""DDSketch protobuf wire-format interop — hand-rolled proto3 codec.

Encodes/decodes the ``DDSketch`` message defined by the reference wire
schema (``/root/reference/ddsketch/pb/ddsketch.proto:13-64``) without a
protobuf dependency (this container has none): varints, zigzag sint32,
little-endian fixed64 doubles, and length-delimited submessages are written
directly.

Message layout mirrored from the schema:

* ``DDSketch``      — 1: IndexMapping, 2: Store positives, 3: Store
  negatives, 4: double zeroCount
* ``IndexMapping``  — 1: double gamma, 2: double indexOffset,
  3: enum interpolation (NONE/LINEAR/QUADRATIC/CUBIC)
* ``Store``         — 1: map<sint32,double> binCounts (sparse),
  2: packed repeated double contiguousBinCounts,
  3: sint32 contiguousBinIndexOffset

Like the reference serializer (``pb/proto.py:60-64``) we emit only the
contiguous encoding, and like it the roundtrip drops min/max/sum
(``pb/proto.py:91-94``) — decoded sketches carry bins + zero_count, with
count recomputed from the bins.  The decoder additionally accepts the
sparse ``binCounts`` form for interop with other DDSketch implementations.
"""

from __future__ import annotations

import struct

import numpy as np

from .mapping import relative_accuracy_for_gamma
from .sketch import Sketch, SketchConfig
from .store import Bins, canonicalize, empty_bins

__all__ = [
    "sketch_to_proto_bytes",
    "sketch_from_proto_bytes",
    "proto_roundtrip_quantiles",
]

_INTERPOLATION_TO_ENUM = {"logarithmic": 0, "linear": 1, "cubic": 3}
_ENUM_TO_MAPPING = {0: "logarithmic", 1: "linear", 3: "cubic"}

_VARINT = 0
_FIXED64 = 1
_LEN = 2


def _varint(n: int) -> bytes:
    if n < 0:
        n += 1 << 64
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _zigzag32(n: int) -> int:
    return ((n << 1) ^ (n >> 31)) & 0xFFFFFFFF


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _double(x: float) -> bytes:
    return struct.pack("<d", x)


def _len_delimited(field: int, payload: bytes) -> bytes:
    return _tag(field, _LEN) + _varint(len(payload)) + payload


def _encode_mapping(cfg: SketchConfig) -> bytes:
    out = bytearray()
    out += _tag(1, _FIXED64) + _double(cfg.gamma)
    if cfg.offset != 0.0:
        out += _tag(2, _FIXED64) + _double(cfg.offset)
    interp = _INTERPOLATION_TO_ENUM[cfg.mapping]
    if interp:
        out += _tag(3, _VARINT) + _varint(interp)
    return bytes(out)


def _encode_store(store: Bins) -> bytes:
    offset, bins = store
    out = bytearray()
    if len(bins):
        packed = b"".join(_double(float(c)) for c in bins)
        out += _len_delimited(2, packed)
        z = _zigzag32(int(offset))
        if z:
            out += _tag(3, _VARINT) + _varint(z)
    return bytes(out)


def sketch_to_proto_bytes(sketch: Sketch) -> bytes:
    out = bytearray()
    out += _len_delimited(1, _encode_mapping(sketch.cfg))
    pos = _encode_store(sketch.pos)
    if pos:
        out += _len_delimited(2, pos)
    neg = _encode_store(sketch.neg)
    if neg:
        out += _len_delimited(3, neg)
    if sketch.zero_count:
        out += _tag(4, _FIXED64) + _double(sketch.zero_count)
    return bytes(out)


# ----------------------------------------------------------------- decoding


def _read_varint(data: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = data[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def _fields(data: bytes):
    i = 0
    n = len(data)
    while i < n:
        key, i = _read_varint(data, i)
        field, wire = key >> 3, key & 7
        if wire == _VARINT:
            val, i = _read_varint(data, i)
        elif wire == _FIXED64:
            val = struct.unpack("<d", data[i : i + 8])[0]
            i += 8
        elif wire == _LEN:
            ln, i = _read_varint(data, i)
            val = data[i : i + ln]
            i += ln
        else:
            raise ValueError(f"unsupported wire type {wire}")
        yield field, wire, val


def _decode_store(data: bytes) -> Bins:
    offset = 0
    contiguous: list[float] = []
    sparse: dict[int, float] = {}
    for field, wire, val in _fields(data):
        if field == 2:
            if wire == _LEN:
                contiguous.extend(
                    struct.unpack(f"<{len(val) // 8}d", val)
                )
            else:
                contiguous.append(val)
        elif field == 3:
            offset = _unzigzag(val)
        elif field == 1:
            # map<sint32,double> entry: submessage {1: key, 2: value}
            k = 0
            v = 0.0
            for f2, _w2, v2 in _fields(val):
                if f2 == 1:
                    k = _unzigzag(v2)
                elif f2 == 2:
                    v = v2
            sparse[k] = sparse.get(k, 0.0) + v
    if not contiguous and not sparse:
        return empty_bins()
    lo = min(([offset] if contiguous else []) + list(sparse.keys()))
    hi = max(
        ([offset + len(contiguous) - 1] if contiguous else []) + list(sparse.keys())
    )
    bins = np.zeros(hi - lo + 1, dtype=np.float64)
    if contiguous:
        bins[offset - lo : offset - lo + len(contiguous)] += contiguous
    for k, v in sparse.items():
        bins[k - lo] += v
    return canonicalize(lo, bins)


def sketch_from_proto_bytes(data: bytes) -> Sketch:
    gamma = None
    offset = 0.0
    interp = 0
    pos = empty_bins()
    neg = empty_bins()
    zero_count = 0.0
    for field, _wire, val in _fields(data):
        if field == 1:
            for f2, _w2, v2 in _fields(val):
                if f2 == 1:
                    gamma = v2
                elif f2 == 2:
                    offset = v2
                elif f2 == 3:
                    interp = v2
        elif field == 2:
            pos = _decode_store(val)
        elif field == 3:
            neg = _decode_store(val)
        elif field == 4:
            zero_count = val
    if gamma is None:
        raise ValueError("proto DDSketch missing mapping.gamma")
    if interp not in _ENUM_TO_MAPPING:
        raise ValueError(f"unsupported interpolation enum {interp}")
    cfg = SketchConfig(
        relative_accuracy_for_gamma(gamma), mapping=_ENUM_TO_MAPPING[interp],
        offset=offset,
    )
    count = float(pos[1].sum() + neg[1].sum() + zero_count)
    # wire format drops min/max/sum (reference pb/proto.py:91-94)
    return Sketch(
        cfg=cfg,
        zero_count=zero_count,
        count=count,
        sum=0.0,
        min=float("+inf"),
        max=float("-inf"),
        pos=pos,
        neg=neg,
    )


# ------------------------------------------------------- distributed helpers


def proto_roundtrip_quantiles(states, qs, by=None, cfg=None):
    """Push merged sketch-state rows through the protobuf wire format and
    extract quantiles from the *decoded* sketches — the distributed proof
    that the codec preserves query results (reference
    ``pb/proto.py:78-104``; roundtrip drops min/max/sum, so only count and
    quantiles survive).

    ``states``: output of :func:`ddspark.agg.sketch_agg` (one state row per
    group).  The Python stage only encodes and decodes; the decoded state
    rows are finalized by :func:`ddspark.agg.finalize_quantiles`.  Returns
    ``by... | count | p50 ...`` per group.
    """
    import pandas as pd
    from pyspark.sql.types import StructType

    from .agg import STATE_FIELDS, _by_fields, _state_dict, finalize_quantiles, quantile_label

    by = list(by or [])
    cfg = cfg or SketchConfig()
    schema = StructType(_by_fields(states, by) + STATE_FIELDS)

    def rt(batches):
        for pdf in batches:
            out = []
            for rec in pdf.to_dict("records"):
                sk = Sketch.from_state(cfg, rec)
                row = {c: rec[c] for c in by}
                row.update(
                    _state_dict(sketch_from_proto_bytes(sketch_to_proto_bytes(sk)))
                )
                out.append(row)
            if out:
                yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    decoded = states.mapInPandas(rt, schema)
    return finalize_quantiles(decoded, qs, cfg, by).select(
        *by, "count", *[quantile_label(q) for q in qs]
    )
