"""Small-text-file I/O and existence checks through the Hadoop
FileSystem API, so sidecars, markers (IVF centroid metadata,
maintenance claim files) and lake-presence probes work on any
Spark-reachable filesystem (hdfs://, s3a://), not only local paths.
Shared by operators/similarity.py, leases.py, sinks/parquet.py and
pipeline.py — one copy of the stream/charset plumbing (r12 review: two
line-identical copies had started to drift)."""

from __future__ import annotations


def hadoop_path_exists(spark, path: str) -> bool:
    """Whether `path` exists — a metadata call, where reading an absent
    parquet path fails its analysis with PATH_NOT_FOUND."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath)


def hadoop_write_text(spark, path: str, text: str) -> None:
    """Write (overwrite) a small UTF-8 text file."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def hadoop_read_text(spark, path: str) -> str:
    """Read a small UTF-8 text file in full."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        util = jvm.org.apache.commons.io.IOUtils
        return bytes(util.toByteArray(stream)).decode("utf-8")
    finally:
        stream.close()
