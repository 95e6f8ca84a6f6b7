"""A crash at every step of the one LSM commit order, then a replay.

All three stores apply a batch through ``LsmStore._apply_batch``:
staged appends, the fence check, promotion, the store's commit, the
applied sentinel.  The test seam ``lsm._test_crash_point`` is called
with the name of each step reached; here it raises at one of them, as
a process death would stop the applier there.  At each point:

- the live view before the replay is the pre-batch view, or — once a
  store's commit point has landed (the posting and IVF meta replace) —
  the post-batch view, never a mix;
- the stream replays the batch (no sentinel was written), and the live
  view then equals a twin store that applied the batch once.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from car_etl_spark.operators import indexing as IX
from car_etl_spark.operators import lsm
from car_etl_spark.streaming.rollup_store import RollupStore
from tests.test_indexing import DOCS_B1, DOCS_V0, _clustered_emb, _docs_df, _live_postings
from tests.test_rollup_store import B1, SCHEMA, V0

#: the steps ``_apply_batch`` reports, in commit order
STEPS = ("staged", "fenced", "promoted", "committed")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _posting_build(spark, path):
    store = IX.PostingStore(path)
    store.build(_docs_df(spark, DOCS_V0))
    return store


def _posting_apply(spark, store):
    return store.apply_batch(spark, _docs_df(spark, DOCS_B1), [4], batch=1)


def _posting_view(spark, store):
    return _live_postings(store, spark), store.stats()


def _ivf_build(spark, path):
    store = IX.IvfStore(path)
    store.build(_clustered_emb(spark), num_centroids=4, refine_iterations=0)
    return store


def _ivf_apply(spark, store):
    up = _clustered_emb(spark).filter(F.col("vec_id") < 3).withColumn("label", F.lit(99))
    return store.apply_batch(spark, up, [5], batch=1)


def _ivf_view(spark, store):
    """The live rows, plus the certificate's effective member counts
    (base + committed batches) and the committed bound."""
    m = store.meta()
    counts = {str(c): n for c, n in zip(m["centroid_ids"], m["counts"])}
    for entry in (m.get("batches") or {}).values():
        for c, n in entry["counts"].items():
            counts[c] += n
    rows = store.read_assignments(spark).select("vec_id", "label", "centroid_id", "batch")
    return _rows(rows), counts, m["applied_through"]


def _rollup_build(spark, path):
    store = RollupStore(path)
    store.build(spark.createDataFrame(V0, SCHEMA))
    return store


def _rollup_apply(spark, store):
    return store.apply_batch(spark, spark.createDataFrame(B1, SCHEMA), 1)


def _rollup_view(spark, store):
    return _rows(store.read(spark, "minute"))


#: kind -> (build, apply batch 1, live view, whether the view shows the
#: batch once the store's commit step has run, before its sentinel)
KINDS = {
    "posting": (_posting_build, _posting_apply, _posting_view, True),
    "ivf": (_ivf_build, _ivf_apply, _ivf_view, True),
    "rollup": (_rollup_build, _rollup_apply, _rollup_view, False),
}


@pytest.fixture(scope="module")
def twin_view(spark, tmp_path_factory):
    """The live view of a store of each kind that applied batch 1 once."""
    views = {}

    def view_of(kind):
        if kind not in views:
            build, apply, view, _ = KINDS[kind]
            twin = build(spark, str(tmp_path_factory.mktemp(f"twin-{kind}")))
            assert apply(spark, twin)
            views[kind] = view(spark, twin)
        return views[kind]

    return view_of


class _Crash(RuntimeError):
    pass


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("kind", sorted(KINDS))
def test_crash_at_each_commit_step_then_replay(
    spark, tmp_path, monkeypatch, twin_view, kind, step
):
    build, apply, view, commit_visible = KINDS[kind]
    store = build(spark, str(tmp_path / kind))
    before = view(spark, store)
    reached = []

    def crash_at(name):
        reached.append(name)
        if name == step:
            raise _Crash(name)

    monkeypatch.setattr(lsm, "_test_crash_point", crash_at)
    with pytest.raises(_Crash):
        apply(spark, store)
    monkeypatch.setattr(lsm, "_test_crash_point", None)
    assert reached == list(STEPS[: STEPS.index(step) + 1])
    assert not os.path.exists(store._sentinel(1))
    landed = step == "committed" and commit_visible
    assert view(spark, store) == (twin_view(kind) if landed else before)
    # the stream redelivers the unsentineled batch
    assert apply(spark, store)
    assert os.path.exists(store._sentinel(1))
    assert view(spark, store) == twin_view(kind)
