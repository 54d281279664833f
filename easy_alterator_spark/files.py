"""DDL file discovery and reads + YAML config (S1/S3/S4 in SURVEY.md §2.1).

Driver-side by design: listing and reading a few hundred small files is
metadata work, O(files) round trips and no Spark job. Mirrors the
reference's filter rules (file_utils.py:48-128): directories expand to
prefix/suffix-filtered entries, explicit file paths pass through, and a
table allowlist keeps only ``{prefix}{table}.{suffix}`` names.
"""

from __future__ import annotations

import os
import re

try:
    import yaml
except ImportError:  # pragma: no cover - PyYAML is optional
    yaml = None

# s3://, s3a://, hdfs://, file://, ... — anything with a URI scheme
# routes through the Hadoop FileSystem API (the reference's s3_utils
# list_objects/read path, s3_utils.py:45-92); plain paths stay on
# os.listdir so discovery needs no JVM when everything is local.
_SCHEME_RE = re.compile(r"^[a-zA-Z][\w+.\-]*://")


def _filter_names(names: list[str], prefix: str, suffix: str, table_names) -> list[str]:
    names = [n for n in sorted(names) if n.startswith(prefix) and n.endswith(suffix)]
    if table_names:
        wanted = {f"{prefix}{t}.{suffix}" for t in table_names}
        names = [n for n in names if n in wanted]
    return names


def hadoop_path(spark, location: str):
    """(FileSystem, Path) of ``location``: s3a://, hdfs://, file://, ..."""
    path = spark._jvm.org.apache.hadoop.fs.Path(location)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def _hadoop_expand(spark, path: str, prefix: str, suffix: str, table_names) -> list[str]:
    """Directory expansion for scheme'd paths via Hadoop FS."""
    fs, jpath = hadoop_path(spark, path)
    if not fs.isDirectory(jpath):
        # a file passes through, and so does a missing path:
        # read_file raises FileNotFoundError naming it
        return [path]
    names = [s.getPath().getName() for s in fs.listStatus(jpath) if s.isFile()]
    base = path.rstrip("/")
    return [f"{base}/{n}" for n in _filter_names(names, prefix, suffix, table_names)]


def read_file(spark, location: str) -> tuple[str, str]:
    """(qualified URI such as ``file:///d%20ir/x.hql``, UTF-8 text) of one
    file; ``FileNotFoundError`` naming ``location`` if there is none."""
    fs, path = hadoop_path(spark, location)
    if not fs.isFile(path):
        raise FileNotFoundError(f"no file at {location}")
    stream = fs.open(path)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return fs.makeQualified(path).toUri().toString(), text


def filter_ddl_files(
    paths: list[str],
    prefix: str | None = None,
    suffix: str = "hql",
    table_names: list[str] | None = None,
    spark=None,
) -> list[str]:
    prefix = prefix or ""
    out: list[str] = []
    for path in paths:
        if _SCHEME_RE.match(path):
            if spark is None:
                raise ValueError(
                    f"path {path!r} has a filesystem scheme; pass the SparkSession "
                    "so discovery can go through Hadoop FS"
                )
            out.extend(_hadoop_expand(spark, path, prefix, suffix, table_names))
        elif os.path.isdir(path):
            names = _filter_names(os.listdir(path), prefix, suffix, table_names)
            out.extend(os.path.join(path, n) for n in names)
        else:
            out.append(path)
    return out


def read_config(path: str) -> dict:
    """YAML config: {path: ..., tables: [...]} (file_utils.py:131-142)."""
    if yaml is None:
        raise RuntimeError("PyYAML not available")
    with open(path, encoding="utf-8") as fs:
        return yaml.safe_load(fs)
