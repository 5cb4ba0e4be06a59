"""Compile the engine's one JVM jar OFFLINE.

Every ``*.scala`` file under ``columnar_estimator_sample_spark/`` (the
Catalyst NDV extension and the ``tfrecord_example`` source/sink) goes
into one jar, compiled with the Scala 2.13 compiler PySpark itself ships
(no sbt, no network): scala.tools.nsc.Main with -usejavacp against the
full pyspark jar directory, then ``jar cfm``. The jar also carries:

  * ``META-INF/services/...DataSourceRegister``, so ``ADD JAR`` makes the
    ``tfrecord_example`` short name resolve;
  * a ``Source-SHA256`` manifest attribute, the digest of the sources it
    was built from (``source_stamp``). ``tests/test_jvm_extension.py``
    fails when it differs from the tree, so a Scala edit without a
    rebuild fails like a stale oracle ledger.

Output: ``columnar_estimator_sample_spark/plans/jvm/sparkgraft-ext.jar``
(committed, so a fresh checkout does not need to rebuild; rerun this
tool after editing any ``.scala`` file).

Run:  python tools/build_jvm_extension.py
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "columnar_estimator_sample_spark")
JAR = os.path.join(PKG, "plans", "jvm", "sparkgraft-ext.jar")
STAMP_KEY = "Source-SHA256"
SERVICES = {"org.apache.spark.sql.sources.DataSourceRegister":
            "sparkgraft.TFRecordSource"}


def scala_sources() -> list[str]:
    """Every ``.scala`` file of the package, sorted."""
    return sorted(os.path.join(root, f) for root, _, files in os.walk(PKG)
                  for f in files if f.endswith(".scala"))


def source_stamp() -> str:
    """sha256 over each Scala source's repo-relative path and bytes."""
    h = hashlib.sha256()
    for p in scala_sources():
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def jar_stamp(jar: str = JAR) -> str | None:
    """The ``Source-SHA256`` attribute of a jar's manifest."""
    import zipfile
    with zipfile.ZipFile(jar) as z:
        text = z.read("META-INF/MANIFEST.MF").decode()
    # manifest lines wrap at 72 bytes onto lines starting with one space
    for line in text.replace("\r\n", "\n").replace("\n ", "").split("\n"):
        key, _, value = line.partition(": ")
        if key == STAMP_KEY:
            return value.strip()
    return None


def _tool(name: str) -> str:
    path = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", name)
    return path if os.path.exists(path) else (shutil.which(name) or name)


def compile_classes(out_dir: str) -> subprocess.CompletedProcess:
    """scalac every Scala source into ``out_dir``."""
    import pyspark
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    cp = ":".join(os.path.join(jars, j) for j in sorted(os.listdir(jars)))
    return subprocess.run(
        [_tool("java"), "-cp", cp, "scala.tools.nsc.Main", "-usejavacp",
         "-d", out_dir, *scala_sources()],
        capture_output=True, text=True, timeout=600)


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        classes = os.path.join(tmp, "classes")
        os.makedirs(os.path.join(classes, "META-INF", "services"))
        r = compile_classes(classes)
        if r.returncode != 0:
            print(r.stdout)
            print(r.stderr, file=sys.stderr)
            return 1
        for service, impl in SERVICES.items():
            with open(os.path.join(classes, "META-INF", "services",
                                   service), "w") as f:
                f.write(impl + "\n")
        manifest = os.path.join(tmp, "MANIFEST.MF")
        with open(manifest, "w") as f:
            f.write(f"{STAMP_KEY}: {source_stamp()}\n")
        r = subprocess.run(
            [_tool("jar"), "cfm", JAR, manifest, "-C", classes, "."],
            capture_output=True, text=True)
        if r.returncode != 0:
            print(r.stderr, file=sys.stderr)
            return 1
    print(f"built {JAR} ({os.path.getsize(JAR)} bytes, "
          f"{STAMP_KEY} {jar_stamp()})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
