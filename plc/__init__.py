"""plc — PySpark-native per-column lightweight-compression engine.

A from-scratch rebuild of the capabilities of ``peterboncz/parquet-lib``
(dictionary encoding, hybrid RLE/bit-packing, FSST, frame-of-reference +
bit-packing, per-column-chunk codec auto-selection) expressed Spark-first:
DataFrame transforms plan the job (range partitioning, skew salting, stats
pre-pass, manifests, resume) and Arrow-vectorized ``mapInArrow`` kernels do
the encoding — zero per-row Python. See SURVEY.md for the blueprint.
"""

import sys as _sys

__version__ = "0.1.0"


def _install_worker_hooks() -> bool:
    """Inside a Spark Python worker on CPython < 3.13, stop each task's
    ``importlib.invalidate_caches()`` from re-reading every zip archive on
    the path (:func:`plc.util.stamp_check_zip_invalidation`). The driver
    and newer interpreters are left alone. The worker flag is read through
    ``sys.modules`` so importing plc never imports pyspark."""
    files = _sys.modules.get("pyspark.core.files")
    on_worker = getattr(getattr(files, "SparkFiles", None),
                        "_is_running_on_worker", False)
    if not on_worker or _sys.version_info >= (3, 13):
        return False
    from plc.util import stamp_check_zip_invalidation

    return stamp_check_zip_invalidation()


_install_worker_hooks()


def __getattr__(name):  # lazy: keep kernel imports pyspark-free
    if name in ("encode", "encode_direct", "decode", "verify", "build_plan",
                "PipelineConfig"):
        from plc import pipeline

        return getattr(pipeline, name)
    if name == "EncodeConfig":
        from plc.chunk import EncodeConfig

        return EncodeConfig
    if name in ("encode_stream", "decode_stream", "compact_stream",
                "expire_stream_batches", "committed_batches"):
        from plc import streaming

        return getattr(streaming, name)
    if name in ("register", "store_agg", "gc"):  # plc format + store ops
        from plc import datasource

        return getattr(datasource, name)
    raise AttributeError(name)
