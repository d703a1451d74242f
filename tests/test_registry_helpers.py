"""Registry entries built on queries.py's shared skeletons (the ANN
audit and its trained-artifact memo, the media fixture, the table
stream) run end to end at the test scale and equal their DuckDB
oracles, compared exactly as tools/compare_oracle.py compares them."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from elb_log_to_mysql_spark.queries import ORACLE_SQL, QUERIES

_spec = importlib.util.spec_from_file_location(
    "compare_oracle",
    Path(__file__).resolve().parent.parent / "tools" / "compare_oracle.py",
)
compare_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(compare_oracle)

ANN_AUDITS = [
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "ann_rerank_auto",
    "ann_band_auto",
    "ann_nprobe_auto",
    "ann_lsh_auto",
    "ann_index_handoff",
    "ann_index_persist",
    "similarity_topk_filtered",
    "similarity_topk_filtered_broad",
    "incremental_ann_index",
    "ann_index_retrain",
]
MEDIA_FIXTURES = [
    "media_dir_meta",
    "multimodal_decode_real",
    "multimodal_audio_real",
    "multimodal_resize_real",
    "multimodal_png_real",
    "multimodal_jpeg_real",
    "multimodal_jpeg_color",
    "multimodal_jpeg_420",
    "multimodal_jpeg_progressive",
]
TABLE_STREAMS = [
    "stream_tumbling",
    "stream_static_join",
    "stream_sliding",
    "stream_stateful",
    "stream_stream_join",
    "stream_dedup",
    "stream_funnel",
    "stream_cdc_apply",
]


@pytest.mark.parametrize("name", ANN_AUDITS + MEDIA_FIXTURES + TABLE_STREAMS)
def test_helper_entry_equals_oracle(spark, sf_dir, con, name):
    got = QUERIES[name](spark, sf_dir).toPandas()
    want = con.sql(ORACLE_SQL[name]).df()
    assert compare_oracle.compare(name, got, want) == []
    assert list(got.columns) == list(want.columns)
