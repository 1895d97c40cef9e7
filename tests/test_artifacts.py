"""Trained quantizer artifacts (operators/artifacts.py): one parquet file per
artifact, bit-exact float64 round trip, never overwritten in place."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from kafka_topic_analyzer_spark.operators import artifacts

# 3.478145226836205e-05 has a 16-digit shortest repr: any lossy path
# (float32, short decimal text) would not reproduce its bits.
TINY = 3.478145226836205e-05

COMMITTED = {
    "ivf_centroids_v1": (16, 64),
    "ivf_centroids_v2": (16, 64),
    "opq_rotation_v1": (64, 64),
    "pq_codebooks_opq_v1": (8, 256, 8),
    "pq_codebooks_res_v1": (8, 16, 8),
    "pq_codebooks_res_v3": (8, 256, 8),
    "pq_codebooks_v1": (8, 16, 8),
    "pq_codebooks_v2": (8, 16, 8),
    "pq_codebooks_v3": (8, 256, 8),
    "sq8_params_v1": (2, 64),
}


def _bits(t):
    return tuple(_bits(v) for v in t) if isinstance(t, tuple) else t.hex()


def _shape(t):
    return (len(t),) + _shape(t[0]) if isinstance(t, tuple) else ()


@pytest.fixture
def store(tmp_path, monkeypatch):
    monkeypatch.setattr(artifacts, "FIXTURE_DIR", str(tmp_path))
    return tmp_path


@pytest.mark.parametrize(
    "values",
    [
        ((0.1, -0.25, TINY), (1.0, -0.0, -2.5)),
        (
            ((0.0, TINY), (1e-300, -7.0), (2.5, 3.0)),
            ((-0.5, 0.25), (9.0, 1.0), (TINY, 0.0)),
        ),
        ((-1.5, TINY, 0.0), (2.0, 0.75, 1.0)),
    ],
    ids=["centroids", "codebooks", "sq8_pair"],
)
def test_save_load_roundtrip(store, values):
    path = artifacts.save("probe_v9", values, "test provenance")
    assert path == os.path.join(str(store), "probe_v9.parquet")
    got = artifacts.load("probe_v9")
    assert _bits(got) == _bits(values)
    assert pq.read_schema(path).metadata[b"provenance"] == b"test provenance"


def test_save_refuses_to_overwrite(store):
    artifacts.save("probe_v1", ((1.0, 2.0),), "first cut")
    with pytest.raises(FileExistsError, match="probe_v1"):
        artifacts.save("probe_v1", ((3.0, 4.0),), "second cut")
    assert artifacts.load("probe_v1") == ((1.0, 2.0),)


def test_load_missing_artifact_raises(store):
    with pytest.raises(FileNotFoundError, match="'probe_v404'"):
        artifacts.load("probe_v404")


def test_committed_artifacts_one_file_each():
    files = sorted(os.listdir(artifacts.FIXTURE_DIR))
    assert files == [f"{n}.parquet" for n in sorted(COMMITTED)]
    assert {n: _shape(artifacts.load(n)) for n in COMMITTED} == COMMITTED
