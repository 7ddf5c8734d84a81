"""Manifest checkpoint compaction: one-read lineage/metrics for
long-lived append trees, with per-wave records staying the visibility
source of truth."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pytest

from embulk_input_parquet_hadoop_spark.plans import fsutil
from embulk_input_parquet_hadoop_spark.plans import manifest as mf
from embulk_input_parquet_hadoop_spark.plans import pipeline
from embulk_input_parquet_hadoop_spark.sources.datagen import generate


def _encode(spark, tmp_path, waves=3):
    src = tmp_path / "src"
    generate(str(src), n_docs=900, seed=31, n_files=3)
    out = str(tmp_path / "enc")
    t = pipeline.encode_path(spark, str(src), out, waves=waves)
    assert t["waves_run"] == waves
    return str(src), out


def _manifest_view(spark, out):
    rows = sorted(map(tuple, mf.read_manifest(spark, out).collect()))
    return rows, mf.committed_input_files(out), \
        mf.completed_waves(spark, out)


def test_compact_preserves_reader_view(spark, tmp_path):
    _, out = _encode(spark, tmp_path)
    before = _manifest_view(spark, out)
    res = mf.compact_manifest(out)
    assert res["max_wave"] == 2 and res["n_waves"] == 3
    assert fsutil.exists(res["checkpoint"])
    assert _manifest_view(spark, out) == before
    # the checkpoint is actually serving the read: drop the wave files'
    # content from reach by corrupting them — reads <= max_wave must
    # NOT touch them anymore
    for k in range(3):
        Path(f"{out}/manifest/wave-{k}.json").write_text("{corrupt")
    assert _manifest_view(spark, out)[0] == before[0]
    assert _manifest_view(spark, out)[1] == before[1]


def test_append_after_compact_reads_tail_waves(spark, tmp_path):
    src, out = _encode(spark, tmp_path)
    mf.compact_manifest(out)
    pre_lineage = mf.committed_input_files(out)

    # append arrives AFTER the checkpoint
    more = tmp_path / "more"
    generate(str(more), n_docs=300, seed=37, n_files=1, start_doc=900)
    for f in sorted(more.glob("*.parquet")):
        shutil.copy(f, Path(src) / f"z-{f.name}")
    t = pipeline.encode_path(spark, src, out, waves=1, append=True)
    assert t["waves_run"] == 1
    assert t["n_files_already_committed"] == 3

    # tail wave is visible through the checkpointed reader
    lineage = mf.committed_input_files(out)
    assert pre_lineage < lineage and len(lineage) == 4
    waves = sorted(r.wave_id
                   for r in mf.read_manifest(spark, out).collect())
    assert waves == [0, 1, 2, 3]
    # a second append is a no-op (lineage from checkpoint + tail)
    t2 = pipeline.encode_path(spark, src, out, waves=1, append=True)
    assert t2["waves_run"] == 0
    assert t2["n_files_already_committed"] == 4

    # re-compact folds the tail in and removes the superseded record
    res = mf.compact_manifest(out)
    assert res["max_wave"] == 3 and res["n_waves"] == 4
    assert res["old_checkpoints_removed"] == 1
    names = fsutil.listdir(f"{out}/manifest")
    assert [n for n in names if n.startswith("checkpoint-")] \
        == ["checkpoint-3.json"]
    assert mf.committed_input_files(out) == lineage


def test_two_checkpoints_newest_wins(spark, tmp_path):
    _, out = _encode(spark, tmp_path)
    mf.compact_manifest(out, keep_old=True)
    before = _manifest_view(spark, out)
    # a stale OLDER checkpoint lying around (crash between new-ckpt put
    # and old-ckpt delete) must not change the view
    ck = json.loads(Path(f"{out}/manifest/checkpoint-2.json").read_text())
    stale = {"max_wave": 0, "n_waves": 1, "waves": ck["waves"][:1]}
    Path(f"{out}/manifest/checkpoint-0.json").write_text(
        json.dumps(stale))
    assert _manifest_view(spark, out) == before


def test_compact_requires_committed_waves(spark, tmp_path):
    out = tmp_path / "empty"
    (out / "manifest").mkdir(parents=True)
    with pytest.raises(FileNotFoundError):
        mf.compact_manifest(str(out))


def test_visibility_still_per_wave_and_vacuum_keeps_checkpoint(
        spark, tmp_path):
    src, out = _encode(spark, tmp_path)
    mf.compact_manifest(out)
    # simulate a crashed wave: chunk dir without a manifest record,
    # plus tmp debris — vacuum removes both, checkpoint survives
    crash = Path(f"{out}/chunks/wave=9")
    crash.mkdir(parents=True)
    (crash / "part-0.parquet.tmp").write_bytes(b"xx")
    res = mf.vacuum(out)
    assert res["waves_removed"] == 1
    assert fsutil.exists(f"{out}/manifest/checkpoint-2.json")
    # completed_waves never consults the checkpoint: delete one wave
    # record and visibility shrinks even though the checkpoint covers it
    pre_lineage = mf.committed_input_files(out)
    Path(f"{out}/manifest/wave-1.json").unlink()
    assert mf.completed_waves(spark, out) == {0, 2}
    # ...and so does LINEAGE: the checkpoint serves record contents,
    # never record existence — a rolled-back wave's input files must be
    # re-encodable by append, not silently skipped
    post = mf.committed_input_files(out)
    assert post < pre_lineage and len(post) == 2
    assert sorted(r.wave_id
                  for r in mf.read_manifest(spark, out).collect()) \
        == [0, 2]


def test_compact_on_object_store_scheme(spark, tmp_path):
    src = tmp_path / "src"
    generate(str(src), n_docs=300, seed=41, n_files=1)
    out = f"mock-s3://bucket{tmp_path}/ckpt_tree"
    pipeline.encode_path(spark, str(src), out, waves=1)
    res = mf.compact_manifest(out)
    assert res["n_waves"] == 1
    before = sorted(map(tuple, mf.read_manifest(spark, out).collect()))
    assert mf.committed_input_files(out)
    assert sorted(map(tuple,
                      mf.read_manifest(spark, out).collect())) == before


def test_recommit_after_rollback_and_compact_keeps_lineage(spark,
                                                           tmp_path):
    """rollback -> compact -> re-commit: the re-committed wave sits at an
    id below the checkpoint's max and outside its entries; readers must
    still see it, or its files drop out of the append lineage and a later
    append encodes them twice."""
    src, out = _encode(spark, tmp_path)
    before = _manifest_view(spark, out)
    Path(f"{out}/manifest/wave-1.json").unlink()
    mf.compact_manifest(out)
    t = pipeline.encode_path(spark, src, out, waves=3, resume=True)
    assert t["waves_run"] == 1 and t["waves_skipped"] == 2
    assert mf.committed_input_files(out) == before[1]
    assert sorted(r.wave_id
                  for r in mf.read_manifest(spark, out).collect()) \
        == [0, 1, 2]
    again = pipeline.encode_path(spark, src, out, waves=1, append=True)
    assert again["waves_run"] == 0


def test_wave_absent_from_checkpoint_is_read(spark, tmp_path):
    """A compactor that listed the manifest while wave 1 was rolled back
    publishes a checkpoint without it after the re-commit landed: the
    reader reads wave 1's own record."""
    _, out = _encode(spark, tmp_path)
    before = _manifest_view(spark, out)
    rec = Path(f"{out}/manifest/wave-1.json")
    held = rec.read_bytes()
    rec.unlink()
    mf.compact_manifest(out)
    rec.write_bytes(held)
    assert _manifest_view(spark, out) == before


def test_recommit_replaces_checkpoint_entry(spark, tmp_path):
    """compact -> rollback -> re-commit: the checkpoint's entry for the
    wave predates the re-commit and must not be served in its place."""
    _, out = _encode(spark, tmp_path)
    mf.compact_manifest(out)
    Path(f"{out}/manifest/wave-1.json").unlink()
    mf.commit_wave(spark, out, 1, ["/re/encoded.parquet"], 0.5)
    recs = {r.wave_id: r for r in mf.read_manifest(spark, out).collect()}
    assert recs[1].input_files == ["/re/encoded.parquet"]
    assert "/re/encoded.parquet" in mf.committed_input_files(out)


def test_reader_survives_checkpoint_removed_mid_read(spark, tmp_path,
                                                    monkeypatch):
    """A concurrent compact_manifest deletes the checkpoint the reader
    just listed before the reader opens it."""
    _, out = _encode(spark, tmp_path)
    mf.compact_manifest(out)
    before = _manifest_view(spark, out)
    real = fsutil.read_json
    removed = []

    def racing_read(path):
        if Path(path).name.startswith("checkpoint-"):
            Path(path).unlink()
            removed.append(path)
        return real(path)
    monkeypatch.setattr(fsutil, "read_json", racing_read)
    assert mf.committed_input_files(out) == before[1]
    assert removed
