"""Every gate query must behave on EMPTY input tables.

At 100 TB, empty frames are routine (a filter matching nothing, an empty
partition, a fresh table): operators must return empty results, never
throw. Exercises the fixed hazards: drift divide-by-zero on empty cohorts
(ANSI), IVF/k-means zero-arm array() expressions from an empty codebook.
"""

from __future__ import annotations

import os

import pytest

# synthesize-their-own-input queries (images fixtures) have no
# empty-table variant to read
_SKIP = {
    "validate_images",
    "validate_images_meta",
    # fixed-size synthetic fixtures — these ignore sf_dir entirely, so an
    # empty-tables sweep would not exercise an empty input
    "image_features_clips",
    "image_features_resized",
    "audio_features_clips",
    "video_frame_features",
}


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    src = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("empty_sf"))
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            df = spark.read.parquet(os.path.join(src, f))
            df.limit(0).write.mode("overwrite").parquet(os.path.join(out, f))
    return out


def test_all_queries_tolerate_empty_tables(spark, empty_sf_dir):
    from ndto_spark.queries import QUERIES

    failures = []
    for name, fn in QUERIES.items():
        if name in _SKIP:
            continue
        try:
            fn(spark, empty_sf_dir).count()
        except Exception as e:  # noqa: BLE001 - collecting every offender
            failures.append(f"{name}: {e!r}")
    assert not failures, "queries crashed on empty input:\n" + "\n".join(failures)
