"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import SparkSession


def write_text_sidecar(spark: SparkSession, path: str, payload: str) -> None:
    """Driver-side write of a small metadata sidecar file through the
    Hadoop FileSystem API. One metadata file needs no Spark job (a
    one-row DataFrame write still pays full job-commit machinery), and
    the FS API keeps it portable to every Hadoop-supported filesystem
    (s3a/hdfs/file) where a real index lives. Written under an
    underscore-prefixed directory so Spark's file index ignores it; read
    it back with :func:`read_text_sidecar`."""
    jvm = spark._jvm
    fs_path = jvm.org.apache.hadoop.fs.Path(f"{path}/part-00000")
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(fs_path, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()


def read_text_sidecar(spark: SparkSession, path: str) -> str:
    """The payload of a sidecar written by :func:`write_text_sidecar`,
    read driver-side through the same Hadoop FileSystem API: no Spark job,
    and no file-index scan of an underscore-prefixed (hidden) directory.
    Every ``part-*`` file under ``path`` is read in name order, so a
    sidecar written by a Spark text write loads too."""
    jvm = spark._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(f"{path}/part-*")
    fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
    parts = fs.globStatus(pattern)
    if not parts:
        raise FileNotFoundError(f"no sidecar part file under {path}")
    chunks = []
    for part in parts:
        stream = fs.open(part.getPath())
        try:
            chunks.append(bytes(stream.readAllBytes()).decode("utf-8"))
        finally:
            stream.close()
    return "".join(chunks)
