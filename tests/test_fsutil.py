"""The driver-side one-row JSON metadata helpers (fsutil): store
markers, output-schema markers and pack cursors are read and written
through the Hadoop FS handle, with no Spark job, in the on-disk layout
Spark's JSON writer produces."""

import json
import os

import pytest

from dbd_datawarehouse_scraper_spark.fsutil import (
    fs_epoch_ids,
    fs_read_json_row,
    fs_write_json_row,
)

SCHEMA = "v INT, n BIGINT, x DOUBLE, s STRING"


def test_write_then_read_round_trips(spark, tmp_path):
    path = str(tmp_path / "store" / "format")
    fs_write_json_row(spark, path, SCHEMA, (2, 1 << 40, 0.8, "a,b é"))
    assert fs_read_json_row(spark, path, SCHEMA) == {
        "v": 2, "n": 1 << 40, "x": 0.8, "s": "a,b é",
    }
    # the layout: a directory holding one part-*.json line
    parts = [n for n in os.listdir(path) if n.startswith("part-")]
    assert len(parts) == 1 and parts[0].endswith(".json")
    with open(os.path.join(path, parts[0])) as f:
        assert len(f.read().splitlines()) == 1
    # an overwrite swaps the new row in and leaves no temp sibling
    fs_write_json_row(spark, path, SCHEMA, (3, None, 1.0, "c"))
    assert fs_read_json_row(spark, path, SCHEMA) == {
        "v": 3, "n": None, "x": 1.0, "s": "c",
    }
    assert os.listdir(tmp_path / "store") == ["format"]


def test_spark_reads_helper_output(spark, tmp_path):
    path = str(tmp_path / "m")
    fs_write_json_row(spark, path, SCHEMA, (1, 7, 2.5, "z"))
    row = spark.read.schema(SCHEMA).json(path).head()
    assert (row["v"], row["n"], row["x"], row["s"]) == (1, 7, 2.5, "z")
    assert spark.read.json(path).count() == 1


def test_reads_spark_written_directory(spark, tmp_path):
    path = str(tmp_path / "m")
    spark.createDataFrame([(4, 5, 6.0, "w")], SCHEMA).repartition(1).write.json(
        path
    )
    assert "_SUCCESS" in os.listdir(path)
    assert fs_read_json_row(spark, path, SCHEMA) == {
        "v": 4, "n": 5, "x": 6.0, "s": "w",
    }


def test_reads_plain_file_marker(spark, tmp_path):
    """The hand-written legacy marker form: a plain file, not a dir;
    absent fields read None."""
    path = tmp_path / "format"
    path.write_text(json.dumps({"v": 1, "s": "old"}) + "\n")
    assert fs_read_json_row(spark, str(path), SCHEMA) == {
        "v": 1, "n": None, "x": None, "s": "old",
    }


@pytest.mark.parametrize("content", ["", "\n\n", "{not json", "[1, 2]"])
def test_empty_or_malformed_reads_as_no_row(spark, tmp_path, content):
    d = tmp_path / "cursor"
    d.mkdir()
    (d / "part-00000.json").write_text(content)
    assert fs_read_json_row(spark, str(d), SCHEMA) is None
    f = tmp_path / "plain"
    f.write_text(content)
    assert fs_read_json_row(spark, str(f), SCHEMA) is None


def test_mistyped_field_reads_none_and_missing_path_raises(spark, tmp_path):
    f = tmp_path / "m"
    f.write_text(json.dumps({"v": "2", "n": 1.5, "x": "y", "s": 3}) + "\n")
    assert fs_read_json_row(spark, str(f), SCHEMA) == {
        "v": None, "n": None, "x": None, "s": None,
    }
    with pytest.raises(Exception):
        fs_read_json_row(spark, str(tmp_path / "absent"), SCHEMA)


def test_epoch_ids_lists_only_epoch_dirs(spark, tmp_path):
    """The epoch stores' one listing parse: ``epoch=N`` children only,
    and a missing store lists as empty rather than raising."""
    assert fs_epoch_ids(spark, str(tmp_path / "absent")) == []
    for name in ("epoch=0", "epoch=12", "_schema", "format"):
        os.makedirs(tmp_path / "store" / name)
    (tmp_path / "store" / "_SUCCESS").touch()
    assert sorted(fs_epoch_ids(spark, str(tmp_path / "store"))) == [0, 12]
