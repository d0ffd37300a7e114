"""scripts/stage_scaled_sf.py refuses replications whose offset keys
would wrap their dtype or collide across copies."""

from __future__ import annotations

import pytest

from scripts.stage_scaled_sf import SPAN, check_key_range


def test_key_range_check(spark):
    df = spark.createDataFrame([(1, 5), (7, 9)], "k int, b bigint")
    check_key_range(df, 214, {"k": SPAN, "b": SPAN})  # 214 x 10M fits int
    with pytest.raises(ValueError, match="do not fit"):
        check_key_range(df, 215, {"k": SPAN})
    check_key_range(df, 215, {"b": SPAN})  # bigint holds it
    with pytest.raises(ValueError, match="copies would collide"):
        check_key_range(df, 2, {"b": 9})
