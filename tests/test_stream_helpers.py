"""The shared stream scaffolding: per-sf-dir temp dirs, the cached
checkpoint builder and the rows-folded drain predicate."""

from __future__ import annotations

import os
import tempfile
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

from facebook_ad_library_data_pipeline_spark.streaming import (
    events,
    incremental,
    state_reader,
    stateful,
)


def test_same_basename_sf_dirs_stream_their_own_events(spark, sf_dir, tmp_path, monkeypatch):
    """Two sf dirs named alike, with the same events mtime, must not
    share the stream's symlink dir or a split dir: each streams (and
    splits) its own rows."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    full = pq.read_table(f"{sf_dir}/events.parquet")
    dirs = {}
    for parent, n in (("a", 7), ("b", 19)):
        d = tmp_path / parent / "sf_t"
        d.mkdir(parents=True)
        pq.write_table(full.slice(0, n), d / "events.parquet")
        os.utime(d / "events.parquet", (1_700_000_000, 1_700_000_000))
        dirs[str(d)] = n
    for i, (d, n) in enumerate(dirs.items()):
        counted = events.load_events_stream(spark, d).groupBy().count()
        events.run_stream_to_memory(counted, f"sf_t_count_{i}")
        assert spark.table(f"sf_t_count_{i}").collect()[0][0] == n
        spark.catalog.dropTempView(f"sf_t_count_{i}")
        assert spark.read.parquet(incremental.split_events_dir(spark, d)).count() == n
        ntile = incremental.split_events_dir_ntile(spark, d)
        assert spark.read.parquet(ntile).count() == n
        # the ts-ordered split adds its one sentinel row
        ts_ordered = incremental.split_events_dir_ts_ordered(spark, d)
        assert spark.read.parquet(ts_ordered).count() == n + 1


def test_checkpoint_failed_build_leaves_nothing(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(state_reader, "_CKPT_CACHE", {})
    stub = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app"))
    builds = []

    def failing(ckpt):
        builds.append(ckpt)
        (tmp_path / ckpt / "state").mkdir()
        raise RuntimeError("stream died")

    with pytest.raises(RuntimeError, match="stream died"):
        state_reader._checkpoint(stub, "/sf", "kind", failing)
    assert list(tmp_path.iterdir()) == []
    assert state_reader._CKPT_CACHE == {}

    def ok(ckpt):
        builds.append(ckpt)

    ckpt = state_reader._checkpoint(stub, "/sf", "kind", ok)
    assert len(builds) == 2 and builds[1] == ckpt and os.path.isdir(ckpt)
    # cached: a second call does not build again
    assert state_reader._checkpoint(stub, "/sf", "kind", ok) == ckpt
    assert len(builds) == 2


def test_rows_folded_counts_real_rows_once(spark, tmp_path):
    """Source: 4 real rows (one with a null user) plus the sentinel.
    The predicate holds once every real row is folded, and a replayed
    sink row does not push the sum past the total."""
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1,), (1,), (2,), (None,), (incremental.SENTINEL_USER_ID,)], "user_id bigint"
    ).write.parquet(src)
    drained = stateful.rows_folded(spark, src, "rows_folded_sink")

    def sink(*rows):
        spark.createDataFrame(list(rows), "user_id bigint, n_events bigint").createOrReplaceTempView(
            "rows_folded_sink"
        )
        return drained()

    try:
        assert not sink((1, 1), (2, 1), (None, 1))
        assert not sink((1, 1), (1, 2), (2, 1))
        assert sink((1, 1), (1, 2), (2, 1), (None, 1))
        assert sink((1, 1), (1, 2), (1, 2), (2, 1), (None, 1))
    finally:
        spark.catalog.dropTempView("rows_folded_sink")
