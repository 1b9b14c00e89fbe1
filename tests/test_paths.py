"""Shard-glob loads (sources/paths.py) select exactly the files directly
under the glob's directory whose names match: never files of nested
subdirectories, partition-style (``k=v``) or plain."""

from __future__ import annotations

import pytest

from language_diversity_common_crawler_spark.sources import paths


@pytest.mark.parametrize("subdir", ["nested", "seg=1"])
def test_shard_glob_reads_only_top_level_files(spark, tmp_path, subdir):
    (tmp_path / "a.txt").write_text("top\n")
    (tmp_path / "_SUCCESS.txt").write_text("hidden\n")
    (tmp_path / subdir).mkdir()
    (tmp_path / subdir / "b.txt").write_text("deep\n")
    glob = str(tmp_path / "*.txt")

    text = paths.load_text(spark, glob)
    assert [r.value for r in text.collect()] == ["top"]
    assert [r.value for r in spark.read.text(glob).collect()] == ["top"]
    assert text.columns == ["value"]  # no partition column

    binary = paths.load_binary(spark, glob).collect()
    assert [r.path.rsplit("/", 1)[1] for r in binary] == ["a.txt"]
    assert bytes(binary[0].content) == b"top\n"


def test_shard_glob_matching_only_nested_files_raises(spark, tmp_path):
    (tmp_path / "seg=1").mkdir()
    (tmp_path / "seg=1" / "b.txt").write_text("deep\n")
    for load in (paths.load_text, paths.load_binary):
        with pytest.raises(FileNotFoundError, match="matches the shard glob"):
            load(spark, str(tmp_path / "*.txt"))
