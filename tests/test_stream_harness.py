"""Versioned stream state (``streaming/harness.py``) on a ``file://``
root: a replayed batch, a leftover ``v{N}.tmp`` and the
``fs_write_text`` absence window (``v{N}`` deleted, ``v{N}.tmp`` left
behind) all rebuild a bit-identical ``v{N}`` from the version strictly
below; ``latest_version`` counts versions exactly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from xsarsea_spark.engine import (fs_exists, fs_read_text,
                                  fs_write_text, load_kv_json,
                                  save_kv_json)
from xsarsea_spark.streaming.harness import (latest_version,
                                             run_available_now,
                                             stage_arrival,
                                             version_below)

# per-batch float increments: merging a batch onto its own output
# instead of the version below would change the sums
_BATCHES = [[("a", 0.1), ("b", 1 / 3)],
            [("a", 0.2), ("c", 2.0 ** -40)],
            [("b", 0.7), ("a", 1e-17), ("c", 3.0)]]


def _absorb(spark, state: str, batch_id: int) -> None:
    prev = version_below(spark, state, batch_id)
    tot = dict(load_kv_json(spark, prev)) if prev else {}
    for k, v in _BATCHES[batch_id]:
        tot[k] = tot.get(k, 0.0) + v
    save_kv_json(spark, sorted(tot.items()), f"{state}/v{batch_id}")


@pytest.fixture()
def state(spark, tmp_path):
    """A ``file://`` state dir after batches 0..2, and its v-texts."""
    root = f"file://{tmp_path}/state"
    for b in range(len(_BATCHES)):
        _absorb(spark, root, b)
    return root, [fs_read_text(spark, f"{root}/v{b}")
                  for b in range(len(_BATCHES))]


def test_replay_with_own_version_on_disk_is_bit_identical(spark, state):
    root, texts = state
    assert version_below(spark, root, 2) == f"{root}/v1"
    assert version_below(spark, root, 0) is None
    for b in (2, 1, 2):
        _absorb(spark, root, b)
        assert fs_read_text(spark, f"{root}/v{b}") == texts[b]


def test_leftover_tmp_is_ignored(spark, state, tmp_path):
    root, texts = state
    fs_write_text(spark, f"{root}/v9.tmp", "[[\"a\", 1e300]]")
    (tmp_path / "state" / "v1.tmp").write_text("[[\"a\"")   # torn
    assert version_below(spark, root, 10) == f"{root}/v2"
    assert latest_version(spark, root, expect=3) == f"{root}/v2"
    _absorb(spark, root, 2)
    assert fs_read_text(spark, f"{root}/v2") == texts[2]


def test_absence_window_rebuilds_the_same_version(spark, state,
                                                  tmp_path):
    # fs_write_text crashed between delete and rename: v2 is gone,
    # the new content sits in v2.tmp
    root, texts = state
    local = tmp_path / "state"
    os.remove(local / "v2")
    (local / "v2.tmp").write_text(texts[2][:7])
    assert latest_version(spark, root) == f"{root}/v1"
    _absorb(spark, root, 2)     # the replay of batch 2
    assert fs_read_text(spark, f"{root}/v2") == texts[2]
    assert not fs_exists(spark, f"{root}/v2.tmp")


def test_latest_version_counts_exactly(spark, state, tmp_path):
    root, _ = state
    assert latest_version(spark, root, expect=3) == f"{root}/v2"
    for n in (2, 4):
        with pytest.raises(RuntimeError, match="expected"):
            latest_version(spark, root, expect=n)
    with pytest.raises(RuntimeError):
        latest_version(spark, f"file://{tmp_path}/empty")


def test_stream_replays_batch_in_absence_window(spark, tmp_path):
    """End to end through a real availableNow query: batch 1 crashed
    after fs_write_text deleted v1 and before its checkpoint commit.
    The restarted query re-delivers batch 1, which rebuilds v1 from
    v0 exactly as the first delivery did."""
    root = f"file://{tmp_path}"
    state, ckpt = f"{root}/state", str(tmp_path / "ckpt")
    watch = tmp_path / "incoming"
    watch.mkdir()
    for k in range(2):
        (spark.range(k * 100, k * 100 + 50)
         .selectExpr("id % 3 AS g", "id AS v").repartition(1)
         .write.parquet(str(tmp_path / f"arr{k}")))

    def step(df, batch_id: int) -> None:
        prev = version_below(spark, state, batch_id)
        tot = dict(load_kv_json(spark, prev)) if prev else {}
        for r in df.groupBy("g").agg(F.sum("v").alias("n")).collect():
            tot[str(r["g"])] = tot.get(str(r["g"]), 0) + r["n"]
        save_kv_json(spark, sorted(tot.items()), f"{state}/v{batch_id}")

    src = spark.readStream.schema("g bigint, v bigint").parquet(
        str(watch))
    for k in range(2):
        stage_arrival(str(tmp_path / f"arr{k}"), str(watch), f"a{k}")
        run_available_now(src, step, ckpt)
    good = fs_read_text(spark, f"{state}/v1")

    os.remove(tmp_path / "state" / "v1")
    (tmp_path / "state" / "v1.tmp").write_text(good[:5])
    for name in os.listdir(tmp_path / "ckpt" / "commits"):
        if name.lstrip(".").split(".")[0] == "1":
            os.remove(tmp_path / "ckpt" / "commits" / name)
    run_available_now(src, step, ckpt)

    assert fs_read_text(spark, f"{state}/v1") == good
    assert latest_version(spark, state, expect=2) == f"{state}/v1"
    ids = list(range(50)) + list(range(100, 150))
    assert dict(load_kv_json(spark, f"{state}/v1")) == {
        str(g): sum(i for i in ids if i % 3 == g) for g in range(3)}
