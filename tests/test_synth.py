"""The synthetic city is a fixed input: its frames hash to the values
taken before end-node lookups became a dict, for scales 1 and 2."""

import hashlib
import json

import pytest

from osmnetfusion_spark import synth

CITY_SHA256 = {
    1: "70733f1522404c0f88734cdd2ed5393c32d62d1e855731fa4a3d6194b2a6ee34",
    2: "71388c79c1095bc2bf37f4b400f0942ee4c361f7b359a02775b0870b3a733887",
}


def city_hash(scale: int) -> str:
    """sha256 over every frame's name, column names, dtypes and values
    (``json.dumps`` writes floats with ``repr``, so exactly)."""
    h = hashlib.sha256()
    city = synth.synthetic_city(scale)
    for name in sorted(city):
        df = city[name]
        h.update(name.encode())
        for c in df.columns:
            h.update(f"{c}:{df[c].dtype}".encode())
            h.update(json.dumps(df[c].tolist()).encode())
    return h.hexdigest()


@pytest.mark.parametrize("scale", sorted(CITY_SHA256))
def test_synthetic_city_is_unchanged(scale):
    assert city_hash(scale) == CITY_SHA256[scale]
