#!/usr/bin/env python
"""Build ``highload_kafka_streams_spark/jvm/hks-localfs.jar`` from its Java sources.

Compiles ``highload_kafka_streams_spark/jvm/src`` with ``javac --release 17``
against the ``hadoop-client-api`` jar that ships with the installed PySpark,
then packs the classes into a jar whose bytes depend only on the class bytes:
entries sorted, fixed timestamps and modes, no manifest. Rebuilding from the
same sources with the same JDK gives the same jar.

Usage:
    python tools/build_jvm.py
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(_HERE, "highload_kafka_streams_spark", "jvm")
SRC_DIR = os.path.join(JVM_DIR, "src")
JAR = os.path.join(JVM_DIR, "hks-localfs.jar")


def hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    if len(jars) != 1:
        raise FileNotFoundError(f"expected one hadoop-client-api jar, found {jars}")
    return jars[0]


def sources() -> list[str]:
    return sorted(glob.glob(os.path.join(SRC_DIR, "**", "*.java"), recursive=True))


def build(out: str = JAR) -> str:
    """Compile the sources and write the jar to ``out``; return ``out``."""
    with tempfile.TemporaryDirectory(prefix="hks_jvm_") as classes:
        subprocess.run(
            ["javac", "--release", "17", "-encoding", "UTF-8", "-implicit:none",
             "-cp", hadoop_api_jar(), "-d", classes, *sources()],
            check=True,
        )
        names = sorted(
            os.path.relpath(p, classes).replace(os.sep, "/")
            for p in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)
        )
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as jar:
            for name in names:
                info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
                info.external_attr = 0o644 << 16
                info.compress_type = zipfile.ZIP_DEFLATED
                with open(os.path.join(classes, name), "rb") as f:
                    jar.writestr(info, f.read())
    return out


def class_bytes(jar: str) -> dict[str, bytes]:
    """``{entry name: bytes}`` for every class in ``jar``."""
    with zipfile.ZipFile(jar) as z:
        return {n: z.read(n) for n in z.namelist() if n.endswith(".class")}


if __name__ == "__main__":
    out = build()
    print(f"{out}: {len(class_bytes(out))} classes", file=sys.stderr)
