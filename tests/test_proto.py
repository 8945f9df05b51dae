"""Wire-format roundtrip tests for the hand-rolled proto3 codec.

No protobuf library is available here, so cross-checking uses a minimal
independent decoder plus semantic roundtrips mirroring the reference suite
(``/root/reference/tests/test_proto.py``): store bins survive, quantiles
survive, summary stats are dropped (lossy by design)."""

from __future__ import annotations

import numpy as np
import pytest

from ddspark.datasets import generate
from ddspark.proto import sketch_from_proto_bytes, sketch_to_proto_bytes
from ddspark.sketch import Sketch, SketchConfig

QUANTILES = [0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999, 1]


@pytest.mark.parametrize("mapping", ["logarithmic", "linear", "cubic"])
@pytest.mark.parametrize("dataset", ["lognormal", "number_line_forward", "constant"])
def test_roundtrip_preserves_bins_and_quantiles(mapping, dataset):
    cfg = SketchConfig(0.05, mapping=mapping)
    sk = Sketch.from_values(generate(dataset, 500), cfg)
    back = sketch_from_proto_bytes(sketch_to_proto_bytes(sk))
    assert back.cfg.mapping == mapping
    assert back.cfg.gamma == sk.cfg.gamma
    assert back.nonzero_bins() == sk.nonzero_bins()
    assert back.zero_count == sk.zero_count
    assert back.count == sk.count
    for q in QUANTILES:
        # gamma -> alpha -> multiplier reconstruction costs a few ulps
        # (exactly as reference from_gamma_offset, mapping.py:58-63)
        assert back.quantile(q) == pytest.approx(sk.quantile(q), rel=1e-12), q


def test_roundtrip_drops_summary_stats():
    sk = Sketch.from_values(np.array([1.0, 5.0, 10.0]), SketchConfig(0.05))
    back = sketch_from_proto_bytes(sketch_to_proto_bytes(sk))
    assert back.sum == 0.0
    assert back.min == float("+inf") and back.max == float("-inf")


def test_empty_sketch_roundtrip():
    sk = Sketch.empty(SketchConfig(0.01))
    back = sketch_from_proto_bytes(sketch_to_proto_bytes(sk))
    assert back.count == 0.0
    assert back.quantile(0.5) is None


def test_offset_and_negative_store_offset():
    cfg = SketchConfig(0.02, offset=13.0)
    sk = Sketch.from_values(np.array([-100.0, -1.0, 0.0, 2.5]), cfg)
    back = sketch_from_proto_bytes(sketch_to_proto_bytes(sk))
    assert back.cfg.offset == 13.0
    assert back.nonzero_bins() == sk.nonzero_bins()


def test_sparse_bincounts_decoding():
    """Other DDSketch implementations may emit the sparse map encoding;
    build such a payload by hand and decode it."""
    from ddspark.proto import _double, _len_delimited, _tag, _varint, _zigzag32

    def map_entry(k, v):
        payload = (
            _tag(1, 0) + _varint(_zigzag32(k)) + _tag(2, 1) + _double(v)
        )
        return _len_delimited(1, payload)

    mapping = _tag(1, 1) + _double(SketchConfig(0.05).gamma)
    store = map_entry(3, 2.0) + map_entry(-2, 1.0) + map_entry(10, 4.0)
    msg = _len_delimited(1, mapping) + _len_delimited(2, store)
    sk = sketch_from_proto_bytes(bytes(msg))
    pos, neg = sk.nonzero_bins()
    assert pos == {3: 2.0, -2: 1.0, 10: 4.0}
    assert sk.count == 7.0


def test_gamma_only_message_requires_mapping():
    with pytest.raises(ValueError):
        sketch_from_proto_bytes(b"")


def test_decoded_sketch_merges_with_native_sketch():
    """At this alpha, rebuilding gamma through (gamma - 1)/(gamma + 1) moves
    it by one ulp; the decoded sketch must still merge with a sketch built
    at the same alpha."""
    cfg = SketchConfig(0.13907553776888446)
    sk = Sketch.from_values(np.array([1.0, 2.0]), cfg)
    back = sketch_from_proto_bytes(sketch_to_proto_bytes(sk))
    merged = Sketch.merge_all([back, Sketch.from_values(np.array([3.0]), cfg)])
    assert merged.count == 3.0


def test_decoded_gamma_equals_encoded_gamma_on_alpha_grid():
    for alpha in np.linspace(0.001, 0.2, 2005):
        sk = Sketch.from_values(np.array([1.0, 2.0]), SketchConfig(float(alpha)))
        back = sketch_from_proto_bytes(sketch_to_proto_bytes(sk))
        assert back.cfg.gamma == sk.cfg.gamma, alpha
