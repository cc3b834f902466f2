"""The manifest is the commit point of a store, so a crash while writing it
must leave no readable manifest file: the one manifest publisher every
writer shares writes a hidden temp file and moves it into place."""

import glob
import os

import pyarrow as pa
import pyarrow.fs as pafs
import pytest
from pyspark.sql.types import StructType

from plc import datasource
from plc.datasource import (PLCCommit, _commit_store, _PlanFS,
                            _publish_manifest)


class _CrashAfterFirstWrite:
    """Output stream that writes its first buffer, then raises: a process
    dying mid-write, with a partial file left on disk."""

    def __init__(self, out):
        self.out, self.writes, self.closed = out, 0, False

    def write(self, data):
        self.writes += 1
        if self.writes > 1:
            raise OSError("injected crash mid-write")
        return self.out.write(data)

    def flush(self):
        self.out.flush()

    def close(self):
        self.out.close()
        self.closed = True


class _CrashingWrites(pafs.FileSystemHandler):
    """The local filesystem, except that every output stream crashes
    after its first write."""

    def __init__(self):
        self.fs = pafs.LocalFileSystem()

    def get_type_name(self):
        return "crashing-local"

    def normalize_path(self, path):
        return path

    def get_file_info(self, paths):
        return self.fs.get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self.fs.get_file_info(selector)

    def create_dir(self, path, recursive):
        self.fs.create_dir(path, recursive=recursive)

    def delete_dir(self, path):
        self.fs.delete_dir(path)

    def delete_dir_contents(self, path, missing_dir_ok=False):
        self.fs.delete_dir_contents(path, missing_dir_ok=missing_dir_ok)

    def delete_root_dir_contents(self):
        raise OSError("refusing to empty the root")

    def delete_file(self, path):
        self.fs.delete_file(path)

    def move(self, src, dest):
        self.fs.move(src, dest)

    def copy_file(self, src, dest):
        self.fs.copy_file(src, dest)

    def open_input_stream(self, path):
        return self.fs.open_input_stream(path)

    def open_input_file(self, path):
        return self.fs.open_input_file(path)

    def open_output_stream(self, path, metadata):
        return pa.PythonFile(
            _CrashAfterFirstWrite(self.fs.open_output_stream(path)), mode="w")

    def open_append_stream(self, path, metadata):
        raise OSError("append is not used by plc")


@pytest.fixture
def crashing_fs(monkeypatch):
    def resolve(self, path):
        self.fs, self.root = pafs.PyFileSystem(_CrashingWrites()), path

    monkeypatch.setattr(_PlanFS, "_resolve", resolve)


def _manifest_parquets(dst):
    return glob.glob(os.path.join(dst, "_manifest", "parts", "*.parquet"))


def test_pipeline_manifest_crash_leaves_no_manifest(tmp_path, crashing_fs):
    dst = str(tmp_path)
    commits = [PLCCommit(0, "part-00000-x.parquet", 1, 10, 100, 400, 120,
                         "doc-a", "doc-b"),
               PLCCommit(1, None, 0, 0, 0, 0, 0, None, None)]
    with pytest.raises(OSError, match="injected crash"):
        _publish_manifest(_PlanFS(dst), "", commits)
    assert _manifest_parquets(dst) == []


def test_format_commit_crash_leaves_no_manifest(tmp_path, crashing_fs):
    dst = str(tmp_path)
    msgs = [PLCCommit(0, "part-00000-x.parquet", 1, 10, 100, 400, 120,
                      "doc-a", "doc-b")]
    with pytest.raises(OSError, match="injected crash"):
        _commit_store(_PlanFS(dst), "", msgs, "n_tok", StructType([]))
    assert _manifest_parquets(dst) == []
    # nothing the readers list as committed
    assert datasource._committed_entries(_PlanFS(dst), "") == {}


def test_manifest_publish_without_crash(tmp_path):
    """Without a crash the temp file is moved into place and none is left
    behind."""
    dst = str(tmp_path)
    commits = [PLCCommit(0, "part-00000-x.parquet", 1, 10, 100, 400, 120,
                         "doc-a", "doc-b")]
    _publish_manifest(_PlanFS(dst), "", commits)
    parts = os.listdir(os.path.join(dst, "_manifest", "parts"))
    assert len(parts) == 1 and parts[0].endswith(".parquet"), parts
    assert datasource._committed_entries(_PlanFS(dst), "") == \
        {0: {"part-00000-x.parquet"}}
