"""Session-shared frames: `plans.domain.session_frame` builds each
(session, sf_dir, name) frame once and reuses it, and the shared-frame
helpers of the query registry hand every consumer the same frame."""

from __future__ import annotations

import json

import pytest

from defimap_data_pipelines_spark.plans import domain
from defimap_data_pipelines_spark.plans import queries as q
from defimap_data_pipelines_spark.plans.domain import session_frame


class _FakeSession:
    """Stands in for a SparkSession: session_frame only needs a
    hashable object with identity semantics."""


@pytest.fixture
def frames(monkeypatch):
    """An empty shared-frame table, so these tests see no frame the
    rest of the suite built."""
    table: dict = {}
    monkeypatch.setattr(domain, "_SESSION_FRAMES", table)
    return table


def _builder(calls: list, tag: str):
    def build():
        calls.append(tag)
        return f"frame-{tag}"

    return build


def _printed(capsys) -> list[dict]:
    return [json.loads(line) for line in capsys.readouterr().out.splitlines()]


def test_builds_once_per_session_sf_dir_and_name(frames, capsys):
    calls: list = []
    s, t = _FakeSession(), _FakeSession()

    assert session_frame(s, "sf_a", "x", _builder(calls, "1")) == "frame-1"
    # hits return the stored frame without calling build or printing
    assert session_frame(s, "sf_a", "x", _builder(calls, "hit")) == "frame-1"
    assert session_frame(s, "sf_a", "x", _builder(calls, "hit")) == "frame-1"
    # each key component on its own selects a different frame
    assert session_frame(s, "sf_a", "y", _builder(calls, "2")) == "frame-2"
    assert session_frame(s, "sf_b", "x", _builder(calls, "3")) == "frame-3"
    assert session_frame(t, "sf_a", "x", _builder(calls, "4")) == "frame-4"
    assert session_frame(t, "sf_a", "x", _builder(calls, "hit")) == "frame-4"

    assert calls == ["1", "2", "3", "4"]
    lines = _printed(capsys)
    assert [r["shared_frame"] for r in lines] == ["x", "y", "x", "x"]
    for r in lines:
        assert set(r) == {"shared_frame", "build_s"}
        assert r["build_s"] >= 0


def test_new_session_after_old_one_is_deleted_builds_fresh(frames, capsys):
    """A key on id(spark) could hand a deleted session's frame to a new
    session that reuses its address; keying on the session object keeps
    the old one alive, so every new session gets its own build."""
    calls: list = []
    for i in range(5):
        s = _FakeSession()
        assert session_frame(s, "sf", "x", _builder(calls, str(i))) == (
            f"frame-{i}"
        )
        del s
    assert calls == ["0", "1", "2", "3", "4"]
    assert len(_printed(capsys)) == 5


SHARED_HELPERS = [
    q._trailing_df,
    q._doc_shingles,
    q._hashed_doc_shingles,
    q._neardup_labels,
    q._cosine_topk10,
    q._lsh_topk10,
    q._minhash_pairs,
    q._clean_survivors,
    q._kmeans_assigned,
    q._ivf_trained_codebook,
    q._purchase_sym_edges,
    q._copurchase_edges,
    q._repeat_copurchase_edges,
]


@pytest.mark.parametrize("helper", SHARED_HELPERS, ids=lambda f: f.__name__)
def test_shared_helper_returns_the_same_frame(spark, sf_dir, helper):
    first = helper(spark, sf_dir)
    assert first is helper(spark, sf_dir)
    assert first.columns
