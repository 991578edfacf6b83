"""The spread rail's input size (queries/registry.py ``_table_bytes``)."""

from chainweb_data_spark.queries.registry import _table_bytes


def test_table_bytes_sums_a_directory_shaped_table(tmp_path):
    """A directory-shaped ``<name>.parquet`` counts its data files, not its
    inode, and skips Spark's marker and checksum files."""
    tdir = tmp_path / "t.parquet" / "height_bucket=0"
    tdir.mkdir(parents=True)
    (tdir / "part-0.parquet").write_bytes(b"x" * 300_000)
    (tdir / "part-1.parquet").write_bytes(b"x" * 200_000)
    (tdir / ".part-0.parquet.crc").write_bytes(b"x" * 99)
    (tmp_path / "t.parquet" / "_SUCCESS").write_bytes(b"")
    (tmp_path / "f.parquet").write_bytes(b"x" * 1234)
    assert _table_bytes(str(tmp_path), "t") == 500_000
    assert _table_bytes(str(tmp_path), "f") == 1234
    assert _table_bytes(str(tmp_path), "missing") is None
