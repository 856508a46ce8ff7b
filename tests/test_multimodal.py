"""Multimodal plumbing tests: binary schema, mapInPandas extraction,
decode-stub gating, and oracle parity for all three registered queries."""

from __future__ import annotations

import pytest

from bigdata_group4_app_spark.operators.multimodal import (
    QUERIES,
    decode_image,
    media_table,
)

from .conftest import SF_SMOKE, check_registered


def test_media_table_schema(spark):
    m = media_table(spark, SF_SMOKE)
    assert dict(m.dtypes)["content"] == "binary"
    assert dict(m.dtypes)["meta"].startswith("struct<n_bytes:bigint")
    row = m.first()
    assert isinstance(row["content"], (bytes, bytearray))
    assert row["meta"]["n_bytes"] == len(row["content"])


def test_decode_stub_is_gated():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake")


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_multimodal_oracle(spark, name):
    check_registered(spark, name, SF_SMOKE)
