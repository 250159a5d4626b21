"""Input-sized runtime profile (session.scale_profile).

The profile is the engine's answer to "size parallelism to the data":
sub-GiB inputs get a graduated shuffle width (~one reducer per 8 MB,
floor 4, capped at the core count) with AQE off; at/above the threshold
the scale defaults (32-wide + AQE) apply. The k=10 scaling run
(SCALE.md §4b) is why the width is graduated and not flat: a 200 MB
input on a flat 4-wide profile starved 32 cores.
"""

from __future__ import annotations

import os

from cdc_example_spark.session import (
    DEFAULT_SHUFFLE_PARTITIONS,
    SMALL_INPUT_BYTES,
    scale_profile,
)


def _dir_with_parquet(tmp_path, total_bytes: int):
    d = tmp_path / f"sf-{total_bytes}"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"\0" * total_bytes)
    return str(d)


def test_tiny_input_gets_floor_width_no_aqe(tmp_path):
    prof = scale_profile(_dir_with_parquet(tmp_path, 17 * 1024**2))
    assert prof["spark.sql.shuffle.partitions"] == "4"
    assert prof["spark.sql.adaptive.enabled"] == "false"


def test_mid_input_width_graduates(tmp_path, monkeypatch):
    # pin the core-count cap so 200 MB graduates to 25 on any host
    import cdc_example_spark.session as session

    monkeypatch.setattr(session, "DEFAULT_SHUFFLE_PARTITIONS", 32)
    prof = scale_profile(_dir_with_parquet(tmp_path, 200 * 1024**2))
    assert prof["spark.sql.shuffle.partitions"] == "25"


def test_width_caps_at_core_count(tmp_path):
    prof = scale_profile(_dir_with_parquet(tmp_path, 1024**3))
    assert prof["spark.sql.shuffle.partitions"] == str(DEFAULT_SHUFFLE_PARTITIONS)


def test_at_threshold_scale_defaults_apply(tmp_path):
    prof = scale_profile(_dir_with_parquet(tmp_path, SMALL_INPUT_BYTES))
    assert prof == {}


def test_missing_dir_falls_back_to_scale_defaults():
    assert scale_profile(os.path.join("/nonexistent", "sf9")) == {}
