"""Every writer — encode(), encode_direct() and the plc format sink — shares
one commit protocol: tasks write their own named part files, and the driver
publishes one manifest file whose rows name them. These tests cover what
that protocol promises: parts written by several tasks, stores whose
manifest names no files, the part-file layout, and fast paths that fall
back only on IO errors."""

import glob
import os
import shutil
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from plc import data as D
from plc.pipeline import (PipelineConfig, _manifest_path, decode, encode,
                          encode_direct, metrics, verify)


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    # eight row groups: encode_direct schedules them as eight tasks
    p = str(tmp_path_factory.mktemp("proto") / "tokens.parquet")
    D.synth_tokens_parquet(p, 2000, regime="zipf", seed=42,
                           row_group_rows=250)
    return p, spark.read.parquet(p)


@pytest.fixture
def dst():
    d = tempfile.mkdtemp(prefix="plc_proto_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _manifest_files(dst):
    return sorted(glob.glob(os.path.join(_manifest_path(dst), "*.parquet")))


def _data_files(dst):
    return {os.path.basename(f) for f in
            glob.glob(os.path.join(dst, "data", "part_id=*", "*.parquet"))}


def test_part_split_across_tasks(spark, src, dst):
    """encode_direct schedules row-group runs, not parts, so each of the
    two parts here is written by several tasks, one file each. The store
    decodes identically, metrics() has one row per part, the report
    counts parts, and encode(resume=True) converges after one manifest
    file is lost."""
    path, df = src
    cfg = PipelineConfig(num_partitions=2)
    rep = encode_direct(spark, path, dst, cfg, mode="overwrite")
    assert rep["committed_parts"] == 2 and rep["rows"] == 2000
    man = pq.read_table(_manifest_files(dst)[0])
    pids = man.column("part_id").to_pylist()
    assert pids.count(0) >= 2 and pids.count(1) >= 2, pids
    assert verify(spark, df, dst)["mismatches"] == 0
    m = metrics(spark, dst).collect()
    assert [r["part_id"] for r in m] == [0, 1]
    assert sum(r["n_rows"] for r in m) == 2000
    assert all(r["n_chunks"] == pids.count(r["part_id"]) for r in m)

    # split the manifest into one file per part, then lose part 1's
    os.remove(_manifest_files(dst)[0])
    for pid in (0, 1):
        pq.write_table(man.filter(pc.equal(man.column("part_id"), pid)),
                       os.path.join(_manifest_path(dst),
                                    f"manifest-part{pid}.parquet"))
    os.remove(os.path.join(_manifest_path(dst), "manifest-part1.parquet"))
    kept = set(man.filter(pc.equal(man.column("part_id"), 0))
               .column("file").to_pylist())
    rep2 = encode(spark, df, dst, cfg, resume=True)
    assert rep2["newly_encoded"] == 1 and rep2["committed_parts"] == 2
    assert verify(spark, df, dst)["mismatches"] == 0
    assert [r["part_id"] for r in metrics(spark, dst).collect()] == [0, 1]
    # part 0 was not rewritten; part 1's unnamed files were swept
    named = set()
    for f in _manifest_files(dst):
        named |= {n for n in pq.read_table(f).column("file").to_pylist()
                  if n}
    assert kept <= named and _data_files(dst) == named
    assert encode(spark, df, dst, cfg, resume=True)["newly_encoded"] == 0


def test_store_without_file_names_fails_loudly(spark, src, dst):
    """A non-empty part whose manifest row names no file (a pipeline
    store written before every writer named its files) cannot be told
    apart from orphans: readers and resume raise a ValueError that names
    the store, instead of reading it as empty."""
    from plc.datasource import _committed_entries, _PlanFS, register

    _, df = src
    cfg = PipelineConfig(num_partitions=2, straggler_parts=0)
    encode(spark, df, dst, cfg, mode="overwrite")
    (mf,) = _manifest_files(dst)
    man = pq.read_table(mf)
    pq.write_table(man.drop_columns(["file"]), mf)

    with pytest.raises(ValueError, match="re-encode") as e:
        _committed_entries(_PlanFS(dst), "")
    assert dst in str(e.value)
    with pytest.raises(ValueError, match="re-encode"):
        decode(spark, dst)
    with pytest.raises(ValueError, match="re-encode"):
        encode(spark, df, dst, cfg, resume=True)
    register(spark)
    with pytest.raises(Exception, match="re-encode"):
        spark.read.format("plc").load(dst).count()


@pytest.mark.parametrize("writer", ["encode", "format"])
def test_part_file_layout(spark, src, dst, writer):
    """Every writer lays out part files the same way: the payload column
    has no dictionary page and no statistics; min_doc_id and max_doc_id
    carry min/max statistics. Every non-empty manifest row names its
    file."""
    from plc.datasource import register

    _, df = src
    if writer == "encode":
        encode(spark, df, dst, PipelineConfig(num_partitions=3),
               mode="overwrite")
    else:
        register(spark)
        df.repartition(2).write.format("plc").mode("overwrite").save(dst)
    files = glob.glob(os.path.join(dst, "data", "part_id=*", "*.parquet"))
    assert files
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            pay = rg.column(names.index("payload"))
            assert not pay.has_dictionary_page and not pay.is_stats_set, f
            for c in ("min_doc_id", "max_doc_id"):
                st = rg.column(names.index(c)).statistics
                assert st is not None and st.has_min_max, (f, c)
    for mf in _manifest_files(dst):
        for r in pq.read_table(mf).to_pylist():
            assert r["file"] is not None or r["n_chunks"] == 0, r


def test_fast_paths_fall_back_only_on_io_errors(spark, src, dst,
                                                monkeypatch):
    """The driver-side manifest reads behind decode() and verify() fall
    back to their Spark plans on an IO or path-resolution error only; any
    other error propagates instead of silently choosing the Spark plan."""
    from plc import datasource
    from plc.pipeline import _manifest_sums_driver

    _, df = src
    encode(spark, df, dst, PipelineConfig(num_partitions=2),
           mode="overwrite")

    def raises(exc):
        def f(*args):
            raise exc
        return f

    monkeypatch.setattr(datasource, "_committed_entries",
                        raises(KeyError("not an IO error")))
    with pytest.raises(KeyError):
        decode(spark, dst)
    monkeypatch.setattr(datasource, "_manifest_rows",
                        raises(KeyError("not an IO error")))
    with pytest.raises(KeyError):
        _manifest_sums_driver(dst)

    # an IO error picks the Spark plans, which read the same store
    monkeypatch.setattr(datasource, "_committed_entries",
                        raises(OSError("unreachable")))
    monkeypatch.setattr(datasource, "_manifest_rows",
                        raises(OSError("unreachable")))
    assert _manifest_sums_driver(dst) is None
    assert decode(spark, dst).count() == 2000
